"""Tests for the incremental micro-batch driver and the maintained
Structured Streaming folds."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.plans.types import SqlQueryStep
from kamu_engine_datafusion_spark.streaming.incremental import (
    IncrementalRunner,
    LedgerInput,
)
from tests.conftest import write_cities_ledger

UTC = timezone.utc


def test_incremental_runner_two_ticks(spark, tmp_path):
    """Tick 1 reads offsets 0-2; after a new part file arrives, tick 2
    reads only 3-4 and output offsets continue where tick 1 ended."""
    in_dir = tmp_path / "in"
    out_dir = tmp_path / "out"
    in_dir.mkdir()
    write_cities_ledger(str(in_dir / "part-00000.parquet"))

    runner = IncrementalRunner(
        spark=spark,
        transform=[
            SqlQueryStep(
                query="select event_time, city, population from foo "
                "where population > 700000"
            )
        ],
        inputs=[
            LedgerInput(
                dataset_alias="foo", query_alias="foo", ledger_dir=str(in_dir)
            )
        ],
        output_dir=str(out_dir),
    )

    r1 = runner.tick(datetime(2023, 2, 1, tzinfo=UTC))
    assert r1.new_offset_interval.start == 0
    assert r1.new_offset_interval.end == 1  # seattle, kyiv pass the filter
    assert runner.inputs[0].next_unread_offset == 3

    # no new data -> no-op tick
    assert runner.tick(datetime(2023, 2, 2, tzinfo=UTC)) is None

    # append a second part file with offsets 3-4
    import pyarrow as pa

    tbl = pa.table(
        {
            "offset": pa.array([3, 4], pa.int64()),
            "op": pa.array([0, 0], pa.int32()),
            "system_time": pa.array(
                [datetime(2023, 2, 2, tzinfo=UTC)] * 2, pa.timestamp("ms", "UTC")
            ),
            "event_time": pa.array(
                [datetime(2023, 2, 2, tzinfo=UTC)] * 2, pa.timestamp("ms", "UTC")
            ),
            "city": pa.array(["lyon", "osaka"]),
            "population": pa.array([520000, 2700000], pa.int64()),
        }
    )
    pq.write_table(tbl, str(in_dir / "part-00001.parquet"))

    r2 = runner.tick(datetime(2023, 2, 3, tzinfo=UTC))
    assert r2.new_offset_interval.start == 2  # continues after tick 1
    assert r2.new_offset_interval.end == 2  # only osaka passes
    out_files = sorted(os.listdir(out_dir))
    assert len(out_files) == 2
    d = pq.read_table(str(out_dir / out_files[1])).to_pydict()
    assert d["city"] == ["osaka"]
    assert d["offset"] == [2]


def test_maintained_view_incremental_equals_full_recompute(spark, tmp_path):
    """Streamed changelog ticks fold into the stored view; after every
    tick the state equals a from-scratch changelog_agg over the whole
    ledger — including a group that a later tick fully retracts."""
    from kamu_engine_datafusion_spark.operators.changelog import changelog_agg
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_view,
    )

    ledger_dir = os.path.join(str(tmp_path), "ledger")
    state_dir = os.path.join(str(tmp_path), "state")
    ck = os.path.join(str(tmp_path), "ck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"

    def tick(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_view(
            ledger_dir, state_dir, ck, ["k"], {"vsum": "value"},
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    t1 = [(0, 0, "a", 1.0), (1, 0, "a", 2.0), (2, 0, "b", 5.0), (3, 0, "c", 7.0)]
    tick(t1, "t1")
    full = {
        r["k"]: (r["n_live"], r["vsum"])
        for r in changelog_agg(
            spark.createDataFrame(t1, schema), ["k"], {"vsum": "value"}
        ).collect()
    }
    got = {
        r["k"]: (r["n_live"], r["vsum"])
        for r in spark.read.parquet(state_dir).collect()
    }
    assert got == full == {"a": (2, 3.0), "b": (1, 5.0), "c": (1, 7.0)}

    # tick 2: retract one 'a' record, fully retract 'c', append to 'b'
    t2 = [(4, 1, "a", 1.0), (5, 1, "c", 7.0), (6, 0, "b", 3.0)]
    tick(t2, "t2")
    got2 = {
        r["k"]: (r["n_live"], r["vsum"])
        for r in spark.read.parquet(state_dir).collect()
    }
    full2 = {
        r["k"]: (r["n_live"], r["vsum"])
        for r in changelog_agg(
            spark.createDataFrame(t1 + t2, schema), ["k"], {"vsum": "value"}
        ).collect()
    }
    assert got2 == full2 == {"a": (1, 2.0), "b": (2, 8.0)}  # 'c' cancelled out


def test_maintained_snapshot_equals_batch_snapshot(spark, tmp_path):
    """Per-tick latest-per-key folding (with tombstones) reproduces the
    batch snapshot of the full ledger — including a key whose retract
    arrives in a later tick than its surviving older append."""
    from kamu_engine_datafusion_spark.operators.snapshot import (
        snapshot_of_ledger,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_snapshot,
    )

    ledger_dir = os.path.join(str(tmp_path), "sledger")
    state_dir = os.path.join(str(tmp_path), "sstate")
    ck = os.path.join(str(tmp_path), "sck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_snapshot(
            ledger_dir, state_dir, ck, "k",
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    t1 = [(0, 0, "a", 1.0), (1, 0, "a", 2.0), (2, 0, "b", 5.0)]
    t2 = [(3, 1, "b", 5.0), (4, 0, "c", 9.0)]  # retract b (tombstone)
    tick(t1)
    tick(t2)

    live = (
        spark.read.parquet(state_dir)
        .filter(~F.col("op").isin(1, 2))
        .select("k", "value")
    )
    batch = snapshot_of_ledger(
        spark.createDataFrame(t1 + t2, schema).withColumn(
            "system_time", F.lit(None).cast("timestamp")
        ),
        "k",
    ).select("k", "value")
    assert sorted(map(tuple, live.collect())) == sorted(
        map(tuple, batch.collect())
    ) == [("a", 2.0), ("c", 9.0)]
    # tombstone retained: key b present in state, dead
    state_b = spark.read.parquet(state_dir).filter(F.col("k") == "b").collect()
    assert len(state_b) == 1 and state_b[0]["op"] == 1


def test_maintained_view_replayed_batch_is_skipped(spark, tmp_path):
    """Crash-replay safety: re-delivering an already-folded batch id
    must not double-merge (the marker swapped in with the state detects
    it); a crash BEFORE the swap leaves old state + old marker and the
    replay folds normally."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        _last_folded_batch,
        maintained_view,
    )

    ledger_dir = os.path.join(str(tmp_path), "rledger")
    state_dir = os.path.join(str(tmp_path), "rstate")
    ck = os.path.join(str(tmp_path), "rck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"
    rows = [(0, 0, "a", 1.0), (1, 0, "a", 2.0)]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(ledger_dir)
    sch = spark.read.parquet(ledger_dir).schema
    q = maintained_view(
        ledger_dir, state_dir, ck, ["k"], {"vs": "value"}, schema=sch,
        spark=spark,
    )
    q.awaitTermination()
    before = [tuple(r) for r in spark.read.parquet(state_dir).collect()]
    folded = _last_folded_batch(state_dir)
    assert folded >= 0

    # simulate a replay of the SAME batch id (checkpoint lost after the
    # state swap): wipe the checkpoint so batch 0 re-delivers
    import shutil

    shutil.rmtree(ck)
    q2 = maintained_view(
        ledger_dir, state_dir, ck, ["k"], {"vs": "value"}, schema=sch,
        spark=spark,
    )
    q2.awaitTermination()
    after = [tuple(r) for r in spark.read.parquet(state_dir).collect()]
    assert after == before  # no double-merge: a(2, 3.0) not a(4, 6.0)


def test_unparseable_fold_marker_fails_the_fold(spark, tmp_path):
    """A fold marker that exists but holds no batch id fails the next
    fold loudly: read as "nothing folded", it would let a replayed batch
    fold a second time and double-count additive state."""
    import pytest

    from kamu_engine_datafusion_spark.streaming.structured import (
        _BATCH_MARKER,
        _fold_buckets,
        _last_folded_batch,
        read_maintained_state,
    )

    state_dir = str(tmp_path / "state")
    assert _last_folded_batch(state_dir) == -1  # no marker: nothing folded
    counts = spark.createDataFrame([("a", 1), ("b", 2)], "k string, n long")

    def add(state, inc):
        if state is None:
            return inc
        return inc.unionByName(state).groupBy("k").agg(F.sum("n").alias("n"))

    _fold_buckets(counts, 0, state_dir, ["k"], 2, add)
    with open(os.path.join(state_dir, _BATCH_MARKER), "w") as f:
        f.write("0\x00")
    with pytest.raises(ValueError, match="not a batch id"):
        _fold_buckets(counts, 0, state_dir, ["k"], 2, add)
    state = read_maintained_state(spark, state_dir)
    assert sorted(map(tuple, state.collect())) == [("a", 1), ("b", 2)]


def test_maintained_view_recovers_from_crash_mid_intent_apply(
    spark, tmp_path, monkeypatch
):
    """End-to-end: tick 2's fold crashes after its ``_intent`` commit
    point with one bucket already moved into the root and the marker
    still at batch 0; the checkpoint is lost too, so the restarted
    stream re-delivers the whole ledger. Recovery must finish tick 2's
    apply and skip the re-delivery — the view comes back exactly equal
    to the post-tick-2 state, no double merge, no half-applied tick."""
    import json
    import shutil

    import pytest

    from kamu_engine_datafusion_spark.streaming import structured
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_view,
    )

    ledger_dir = os.path.join(str(tmp_path), "cledger")
    state_dir = os.path.join(str(tmp_path), "cstate")
    ck = os.path.join(str(tmp_path), "cck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"
    t1 = [(0, 0, "a", 1.0), (1, 0, "b", 5.0)]
    t2 = [(2, 0, "a", 2.0), (3, 1, "b", 5.0)]

    def append(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)

    def fold():
        maintained_view(
            ledger_dir, state_dir, ck, ["k"], {"vs": "value"},
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    def view():
        return sorted(tuple(r) for r in spark.read.parquet(state_dir).collect())

    # the uncrashed run fixes the post-tick-2 view
    append(t1)
    fold()
    t1_state = os.path.join(str(tmp_path), "t1_state")
    t1_ck = os.path.join(str(tmp_path), "t1_ck")
    shutil.copytree(state_dir, t1_state)
    shutil.copytree(ck, t1_ck)
    append(t2)
    fold()
    want = view()

    # rerun tick 2 from the tick-1 state, crashing right after the
    # intent commit with the first bucket of its plan already applied
    shutil.rmtree(state_dir)
    shutil.rmtree(ck)
    shutil.copytree(t1_state, state_dir)
    shutil.copytree(t1_ck, ck)
    real_write_intent = structured._write_intent
    moved = []

    def crash_after_one_bucket(state_dir_, batch_id, apply, drop, append=None):
        real_write_intent(state_dir_, batch_id, apply, drop, append)
        b = f"{structured._BUCKET_COL}={apply[0]}"
        shutil.rmtree(os.path.join(state_dir_, b), ignore_errors=True)
        os.replace(
            os.path.join(structured._stage_dir(state_dir_), b),
            os.path.join(state_dir_, b),
        )
        moved.append(b)
        raise RuntimeError("crash mid-apply")

    monkeypatch.setattr(structured, "_write_intent", crash_after_one_bucket)
    with pytest.raises(Exception, match="crash mid-apply"):
        fold()
    monkeypatch.undo()

    stage = state_dir + ".next"
    with open(os.path.join(stage, "_intent")) as f:
        intent = json.load(f)
    assert intent["batch_id"] == 1 and len(moved) == 1
    assert not os.path.exists(os.path.join(stage, moved[0]))
    assert os.path.isdir(os.path.join(state_dir, moved[0]))
    with open(os.path.join(state_dir, "_folded_batch_id")) as f:
        assert f.read().strip() == "0"

    shutil.rmtree(ck)  # checkpoint lost: the whole ledger re-delivers
    fold()
    assert view() == want  # a: (2, 3.0); b retracted — not doubled
    assert not os.path.exists(stage)
    with open(os.path.join(state_dir, "_folded_batch_id")) as f:
        assert f.read().strip() == "1"


def test_maintained_distinct_sketch_union_equals_full(spark, tmp_path):
    """HLL-sketch state folded across ticks estimates the same distinct
    counts as a one-shot sketch over the full stream (and, at this
    cardinality, the exact counts)."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_distinct,
    )

    ledger_dir = os.path.join(str(tmp_path), "dledger")
    state_dir = os.path.join(str(tmp_path), "dstate")
    ck = os.path.join(str(tmp_path), "dck")
    os.makedirs(ledger_dir)
    schema = "g string, u long"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_distinct(
            ledger_dir, state_dir, ck, ["g"], "u",
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    t1 = [("a", i) for i in range(50)] + [("b", i) for i in range(10)]
    t2 = [("a", i) for i in range(25, 75)] + [("b", 100)]  # 25 new a's
    tick(t1)
    tick(t2)
    est = {
        r["g"]: r["n"]
        for r in spark.read.parquet(state_dir)
        .select("g", F.hll_sketch_estimate("sketch").alias("n"))
        .collect()
    }
    assert est["a"] == 75 and est["b"] == 11  # exact at this cardinality


def test_transform_ticks_feed_maintained_view(spark, tmp_path):
    """Full downstream story: the ODF IncrementalRunner produces output
    ledger files per tick, and a maintained aggregate view consumes
    that OUTPUT ledger as a stream — after each tick the view equals a
    from-scratch aggregate of everything the transform ever emitted."""
    from datetime import datetime as dt

    from kamu_engine_datafusion_spark.operators.changelog import changelog_agg
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_view,
    )

    in_dir = tmp_path / "mvin"
    out_dir = tmp_path / "mvout"
    state_dir = str(tmp_path / "mvstate")
    ck = str(tmp_path / "mvck")
    in_dir.mkdir()
    write_cities_ledger(str(in_dir / "part-00000.parquet"))

    runner = IncrementalRunner(
        spark=spark,
        transform=[
            SqlQueryStep(
                query="select event_time, city, population from src"
            )
        ],
        inputs=[
            LedgerInput(
                dataset_alias="src", query_alias="src", ledger_dir=str(in_dir)
            )
        ],
        output_dir=str(out_dir),
    )
    runner.tick(dt(2023, 2, 1, tzinfo=UTC))
    sch = spark.read.parquet(str(out_dir)).schema
    q = maintained_view(
        str(out_dir), state_dir, ck, ["city"], {"pop": "population"},
        schema=sch, spark=spark,
    )
    q.awaitTermination()

    # second input tick -> second output part file -> second MV fold
    import pyarrow as pa
    import pyarrow.parquet as pq_

    tbl = pa.table(
        {
            "offset": pa.array([3, 4], pa.int64()),
            "op": pa.array([0, 0], pa.int32()),
            "system_time": pa.array(
                [dt(2023, 2, 2, tzinfo=UTC)] * 2, pa.timestamp("ms", "UTC")
            ),
            "event_time": pa.array(
                [dt(2023, 2, 2, tzinfo=UTC)] * 2, pa.timestamp("ms", "UTC")
            ),
            "city": pa.array(["vancouver", "osaka"]),
            "population": pa.array([10, 20], pa.int64()),
        }
    )
    pq_.write_table(tbl, str(in_dir / "part-00001.parquet"))
    runner.tick(dt(2023, 2, 3, tzinfo=UTC))
    q2 = maintained_view(
        str(out_dir), state_dir, ck, ["city"], {"pop": "population"},
        schema=sch, spark=spark,
    )
    q2.awaitTermination()

    view = {
        r["city"]: (r["n_live"], r["pop"])
        for r in spark.read.parquet(state_dir).collect()
    }
    full = {
        r["city"]: (r["n_live"], r["pop"])
        for r in changelog_agg(
            spark.read.parquet(str(out_dir)), ["city"], {"pop": "population"}
        ).collect()
    }
    assert view == full
    assert view["vancouver"][0] == 2  # original append + tick-2 append


def _bucket_val(spark, key: str, n: int) -> int:
    from kamu_engine_datafusion_spark.streaming.structured import _bucket_of

    return (
        spark.range(1)
        .select(F.lit(key).alias("k"))
        .select(_bucket_of(["k"], n).alias("b"))
        .collect()[0]["b"]
    )


def _bucket_files(state_dir: str) -> dict:
    """{bucket_dir: {filename: bytes}} for every bucket under a root."""
    out = {}
    for d in sorted(os.listdir(state_dir)):
        p = os.path.join(state_dir, d)
        if os.path.isdir(p) and d.startswith("__bucket="):
            out[d] = {
                f: open(os.path.join(p, f), "rb").read()
                for f in sorted(os.listdir(p))
                if not f.startswith(".")
            }
    return out


def test_maintained_state_untouched_buckets_byte_identical(spark, tmp_path):
    """The O(increment) claim made physical: a tick that touches one
    key must leave every OTHER bucket's parquet files byte-identical —
    not re-written, not re-linked, not even re-read."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_view,
    )

    ledger_dir = os.path.join(str(tmp_path), "uledger")
    state_dir = os.path.join(str(tmp_path), "ustate")
    ck = os.path.join(str(tmp_path), "uck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"
    nb = 8

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_view(
            ledger_dir, state_dir, ck, ["k"], {"vs": "value"},
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
            state_buckets=nb,
        )
        q.awaitTermination()

    # 20 keys spread over the 8 buckets
    tick([(i, 0, f"k{i}", float(i)) for i in range(20)])
    before = _bucket_files(state_dir)
    assert len(before) > 2  # the spread actually hit several buckets

    touched = f"__bucket={_bucket_val(spark, 'k0', nb)}"
    tick([(20, 0, "k0", 100.0)])
    after = _bucket_files(state_dir)

    assert touched in before and touched in after
    assert before[touched] != after[touched]  # the folded bucket moved
    for d in before:
        if d != touched:
            assert after[d] == before[d], f"untouched {d} was rewritten"
    # and the view itself is correct
    got = {
        r["k"]: r["vs"]
        for r in spark.read.parquet(state_dir).filter(
            F.col("k").isin("k0", "k1")
        ).collect()
    }
    assert got == {"k0": 100.0, "k1": 1.0}


def test_maintained_state_emptied_bucket_is_removed(spark, tmp_path):
    """A tick that retracts EVERY group in a bucket must remove the
    bucket dir (the 'drop' side of the intent protocol), not leave a
    stale file resurrecting dead groups."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_view,
    )

    ledger_dir = os.path.join(str(tmp_path), "eledger")
    state_dir = os.path.join(str(tmp_path), "estate")
    ck = os.path.join(str(tmp_path), "eck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"
    nb = 8

    # two keys in DIFFERENT buckets: only these two enter the state, so
    # the first key has its bucket to itself
    keys = [f"x{i}" for i in range(40)]
    buckets = {k: _bucket_val(spark, k, nb) for k in keys}
    lone = keys[0]
    other = next(k for k in keys if buckets[k] != buckets[lone])

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_view(
            ledger_dir, state_dir, ck, ["k"], {"vs": "value"},
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
            state_buckets=nb,
        )
        q.awaitTermination()

    tick([(0, 0, lone, 1.0), (1, 0, other, 2.0)])
    lone_dir = os.path.join(state_dir, f"__bucket={buckets[lone]}")
    assert os.path.isdir(lone_dir)
    tick([(2, 1, lone, 1.0)])  # full retraction of the lone key
    assert not os.path.exists(lone_dir)
    remaining = [r["k"] for r in spark.read.parquet(state_dir).collect()]
    assert remaining == [other]


def test_apply_intent_idempotent_from_every_crash_point(tmp_path):
    """_apply_intent must finish a partially-applied tick no matter
    where the crash landed: already-applied buckets are skipped (their
    staging dir is gone), pending ones applied, drops re-dropped, the
    marker written last. Pure filesystem — no Spark."""
    import json

    from kamu_engine_datafusion_spark.streaming.structured import (
        _apply_intent,
        _last_folded_batch,
    )

    st = os.path.join(str(tmp_path), "state")
    stage = st + ".next"

    def mkbucket(root, b, fname, data):
        d = os.path.join(root, f"__bucket={b}")
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, fname), "w") as f:
            f.write(data)

    # live root: marker 3, buckets 1 (stale), 5 (to be dropped), 9 (untouched)
    os.makedirs(st)
    with open(os.path.join(st, "_folded_batch_id"), "w") as f:
        f.write("3")
    mkbucket(st, 1, "old.parquet", "old-b1")
    mkbucket(st, 5, "dead.parquet", "dead-b5")
    mkbucket(st, 9, "keep.parquet", "keep-b9")
    # committed staging for batch 4: replace buckets 1 and 2, drop 5
    mkbucket(stage, 1, "new.parquet", "new-b1")
    mkbucket(stage, 2, "new.parquet", "new-b2")
    with open(os.path.join(stage, "_intent"), "w") as f:
        f.write(json.dumps({"batch_id": 4, "apply": [1, 2], "drop": [5]}))

    # crash point: bucket 1 was already applied before the crash
    import shutil

    shutil.rmtree(os.path.join(st, "__bucket=1"))
    os.replace(os.path.join(stage, "__bucket=1"), os.path.join(st, "__bucket=1"))

    _apply_intent(st)  # recovery must finish the tick

    assert _last_folded_batch(st) == 4
    assert not os.path.exists(stage)
    assert open(os.path.join(st, "__bucket=1", "new.parquet")).read() == "new-b1"
    assert open(os.path.join(st, "__bucket=2", "new.parquet")).read() == "new-b2"
    assert not os.path.exists(os.path.join(st, "__bucket=5"))
    assert open(os.path.join(st, "__bucket=9", "keep.parquet")).read() == "keep-b9"
    # re-running recovery after completion is a no-op
    _apply_intent(st)
    assert _last_folded_batch(st) == 4


def test_maintained_view_null_group_key_buckets_fine(spark, tmp_path):
    """A null group key must fold like any other group: xxhash64(null)
    is the non-null seed constant (42), so the bucket expression never
    yields a null hive partition and the touched-bucket collect never
    mixes None with ints."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_view,
    )

    ledger_dir = os.path.join(str(tmp_path), "nledger")
    state_dir = os.path.join(str(tmp_path), "nstate")
    ck = os.path.join(str(tmp_path), "nck")
    os.makedirs(ledger_dir)
    schema = "offset long, op int, k string, value double"
    rows = [(0, 0, None, 1.0), (1, 0, "a", 2.0), (2, 0, None, 3.0)]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(ledger_dir)
    q = maintained_view(
        ledger_dir, state_dir, ck, ["k"], {"vs": "value"},
        schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        state_buckets=8,
    )
    q.awaitTermination()
    got = {
        r["k"]: (r["n_live"], r["vs"])
        for r in spark.read.parquet(state_dir).collect()
    }
    assert got == {None: (2, 4.0), "a": (1, 2.0)}


def test_bucketed_state_read_partition_prunes(spark, tmp_path):
    """A bucket-filtered read of a state root (compaction's read) must
    PRUNE untouched buckets at the scan (PartitionFilters on the hive
    bucket column)."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        _BUCKET_COL,
        _bucket_of,
    )

    d = str(tmp_path / "bstate")
    (
        spark.range(1000)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .withColumn(_BUCKET_COL, _bucket_of(["k"], 16))
        .write.partitionBy(_BUCKET_COL)
        .parquet(d, mode="overwrite")
    )
    sub = spark.read.parquet(d).filter(F.col(_BUCKET_COL).isin([3, 7]))
    plan = sub._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "IN (3,7)" in pf[0].replace(" ", "").replace(
        "IN(3,7)", "IN (3,7)"
    ), plan


def test_touched_state_warm_read_runs_no_job(spark, tmp_path):
    """The per-tick touched-state read lists the touched bucket dirs and
    reads their files with the cached footer schema: once warm it starts
    no Spark job (a read of the partitioned root ran a listing and
    inference job on every tick), and it returns exactly the touched
    buckets' rows and the state's schema — the 'untouched buckets are
    never read' half of the O(touched) claim."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        _bucket_of,
        _fold_buckets,
        _touched_state,
        read_maintained_state,
    )
    from tests.test_coordinator_edges import _spark_jobs

    d, n = str(tmp_path / "state"), 16
    rows = spark.range(64).selectExpr("id AS k", "id * 10 AS v")

    def add(state, inc):
        if state is None:
            return inc
        return inc.unionByName(state).groupBy("k").agg(F.sum("v").alias("v"))

    for tick in range(3):
        _fold_buckets(rows.filter(F.col("k") % 3 == tick), tick, d, ["k"], n, add)
    batch = spark.createDataFrame([(1, 1), (2, 1), (40, 1)], "k long, v long")

    got = []

    def touched_state(read_state):
        got.append(_touched_state(batch, d, ["k"], n, read_state))

    touched_state(True)  # cold: the schema cache learns the footer
    with_read = _spark_jobs(spark, lambda: touched_state(True))
    without_read = _spark_jobs(spark, lambda: touched_state(False))
    assert with_read == without_read  # the subset read itself ran no job

    touched, subset = got[1]
    assert got[2] == (touched, None) and 1 < len(touched) < n
    want = read_maintained_state(spark, d).filter(
        _bucket_of(["k"], n).isin(touched)
    )
    assert subset.schema == want.schema
    assert sorted(map(tuple, subset.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_maintained_countmin_equals_batch_grid(spark, tmp_path):
    """Count-Min grid folded across 3 ticks must be BIT-EQUAL to the
    one-shot grid over the full ledger (counter addition is associative
    and commutative), and point estimates from the maintained grid must
    equal the batch estimates."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        cm_counters,
        cm_lookup,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_countmin,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "cmledger")
    state_dir = os.path.join(str(tmp_path), "cmstate")
    ck = os.path.join(str(tmp_path), "cmck")
    os.makedirs(ledger_dir)
    schema = "k string"

    def tick(rows):
        spark.createDataFrame([(w,) for w in rows], schema).coalesce(
            1
        ).write.mode("append").parquet(ledger_dir)
        q = maintained_countmin(
            ledger_dir, state_dir, ck, "k", depth=3, width=32, seed=7,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    t1 = ["apple"] * 5 + ["pear", "plum"]
    t2 = ["apple"] * 3 + ["fig"] * 4
    t3 = ["plum"] * 2 + ["apple"]
    for t in (t1, t2, t3):
        tick(t)

    full = spark.createDataFrame([(w,) for w in t1 + t2 + t3], schema)
    want = sorted(
        tuple(r)
        for r in cm_counters(full, "k", depth=3, width=32, seed=7).collect()
    )
    state = read_maintained_state(spark, state_dir)
    got = sorted(tuple(r) for r in state.select("i", "bucket", "c").collect())
    assert got == want  # the grids, cell for cell

    qdf = spark.createDataFrame([("apple",), ("fig",), ("kiwi",)], schema)
    est_m = {
        r["k"]: r["cm_est"]
        for r in cm_lookup(state, qdf, "k", depth=3, width=32, seed=7).collect()
    }
    est_b = {
        r["k"]: r["cm_est"]
        for r in cm_lookup(
            cm_counters(full, "k", depth=3, width=32, seed=7),
            qdf, "k", depth=3, width=32, seed=7,
        ).collect()
    }
    assert est_m == est_b
    assert est_m["apple"] >= 9 and est_m["fig"] >= 4  # never undercounts


def test_maintained_countmin_drops_null_keys_under_xxhash64(
    spark, tmp_path
):
    """r13 advice (medium): Spark's xxhash64(NULL) returns the seed, so
    without the fold's NULL-key filter an xxhash64 maintained grid
    counts NULL-key rows into a REAL cell — inflating n_total and
    contaminating one cell, breaking heavy_hitters_from_grid ≡
    verified_heavy_hitters (which drops NULL keys). The fold must
    filter NULLs so the state equals the batch grid over non-NULL
    keys and the from-grid read equals the batch two-phase result."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        cm_counters,
        heavy_hitters_from_grid,
        verified_heavy_hitters,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_countmin,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "cmnledger")
    state_dir = os.path.join(str(tmp_path), "cmnstate")
    ck = os.path.join(str(tmp_path), "cmnck")
    os.makedirs(ledger_dir)
    schema = "k string"

    def tick(rows):
        spark.createDataFrame([(w,) for w in rows], schema).coalesce(
            1
        ).write.mode("append").parquet(ledger_dir)
        q = maintained_countmin(
            ledger_dir, state_dir, ck, "k", depth=3, width=32, seed=7,
            hash_fn="xxhash64",
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    t1 = ["apple"] * 5 + [None, "pear"]
    t2 = [None, None, "apple", "fig", "fig"]
    for t in (t1, t2):
        tick(t)

    full = spark.createDataFrame([(w,) for w in t1 + t2], schema)
    want = sorted(
        tuple(r)
        for r in cm_counters(
            full.filter(F.col("k").isNotNull()), "k",
            depth=3, width=32, seed=7, hash_fn="xxhash64",
        ).collect()
    )
    state = read_maintained_state(spark, state_dir)
    got = sorted(
        tuple(r) for r in state.select("i", "bucket", "c").collect()
    )
    assert got == want  # NULL rows never entered any cell

    from_grid = sorted(
        tuple(r)
        for r in heavy_hitters_from_grid(
            state, full, "k", 1, 4, depth=3, width=32, seed=7,
            hash_fn="xxhash64",
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in verified_heavy_hitters(
            full, "k", 1, 4, depth=3, width=32, seed=7,
            hash_fn="xxhash64",
        ).collect()
    )
    assert from_grid == batch and len(batch) > 0


def test_maintained_quantile_sketch_equals_batch(spark, tmp_path):
    """Quantile-sketch state folded across 3 ticks must be BIT-EQUAL
    to the one-shot sketch over the full ledger — including a tick
    that forces a group's threshold UP (the state-shrink path) — and
    estimates from the maintained state must equal batch estimates."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        quantile_sketch,
        quantile_sketch_estimates,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_quantile_sketch,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "qsledger")
    state_dir = os.path.join(str(tmp_path), "qsstate")
    ck = os.path.join(str(tmp_path), "qsck")
    os.makedirs(ledger_dir)
    schema = "g string, rid string, val long"
    rng = __import__("random").Random(3)

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_quantile_sketch(
            ledger_dir, state_dir, ck, ["g"], "rid", "val", k=16,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    # tick 1: small groups (thr 0, everything retained)
    t1 = [("a", f"a{i:04d}", rng.randint(0, 999)) for i in range(10)]
    t1 += [("b", f"b{i:04d}", rng.randint(0, 99)) for i in range(5)]
    # tick 2: group a grows past k — its threshold must RISE and the
    # stored state must shed rows below the new threshold
    t2 = [("a", f"a{i:04d}", rng.randint(0, 999)) for i in range(10, 200)]
    # tick 3: more of both (b stays under k)
    t3 = [("a", f"a{i:04d}", rng.randint(0, 999)) for i in range(200, 260)]
    t3 += [("b", f"b{i:04d}", rng.randint(0, 99)) for i in range(5, 9)]
    for t in (t1, t2, t3):
        tick(t)

    full = spark.createDataFrame(t1 + t2 + t3, schema)
    want_df = quantile_sketch(full, ["g"], "rid", "val", k=16)
    cols = sorted(want_df.columns)
    state = read_maintained_state(spark, state_dir)
    got = sorted(tuple(r[c] for c in cols) for r in state.collect())
    want = sorted(tuple(r[c] for c in cols) for r in want_df.collect())
    assert got == want and len(got) > 0
    assert max(r["thr"] for r in state.collect()) > 0  # the rise happened

    qs = [(1, 2), (9, 10)]
    est_m = sorted(
        tuple(r)
        for r in quantile_sketch_estimates(
            state, ["g"], "rid", "val", qs
        ).collect()
    )
    est_b = sorted(
        tuple(r)
        for r in quantile_sketch_estimates(
            want_df, ["g"], "rid", "val", qs
        ).collect()
    )
    assert est_m == est_b


def test_maintained_components_equals_full_recompute(spark, tmp_path):
    """Component state folded across 3 edge ticks must equal the
    from-scratch closure of all edges — tick 3 merges two existing
    components through a brand-new node, the relabel-across-buckets
    path the contracted fold exists for."""
    from kamu_engine_datafusion_spark.operators.clustering import (
        connected_components,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_components,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "ccledger")
    state_dir = os.path.join(str(tmp_path), "ccstate")
    ck = os.path.join(str(tmp_path), "ccck")
    os.makedirs(ledger_dir)
    schema = "id_a long, id_b long"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_components(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    ticks = [
        [(1, 2), (2, 3), (10, 11)],
        [(3, 4), (11, 12), (20, 21)],
        [(4, 99), (99, 10), (1, 4)],  # merge via new node + internal edge
    ]
    seen = []
    for t in ticks:
        seen += t
        tick(t)
        got = {
            r["node"]: r["component"]
            for r in read_maintained_state(spark, state_dir).collect()
        }
        want = {
            r["node"]: r["component"]
            for r in connected_components(
                spark.createDataFrame(seen, schema)
            ).collect()
        }
        assert got == want
    assert {got[n] for n in (1, 2, 3, 4, 10, 11, 12, 99)} == {1}
    assert got[20] == got[21] == 20


def test_maintained_components_replayed_batch_is_skipped(spark, tmp_path):
    """Crash-replay safety for the component fold: re-delivering an
    already-folded edge batch must not disturb state (idempotence also
    holds mathematically — re-contracting folded edges yields self-loops
    — but the marker must short-circuit before any work)."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        _last_folded_batch,
        maintained_components,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "ccrledger")
    state_dir = os.path.join(str(tmp_path), "ccrstate")
    ck = os.path.join(str(tmp_path), "ccrck")
    os.makedirs(ledger_dir)
    schema = "id_a long, id_b long"
    spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], schema
    ).coalesce(1).write.mode("append").parquet(ledger_dir)
    sch = spark.read.parquet(ledger_dir).schema
    q = maintained_components(
        ledger_dir, state_dir, ck, schema=sch, spark=spark
    )
    q.awaitTermination()
    before = sorted(
        tuple(r) for r in read_maintained_state(spark, state_dir).collect()
    )
    assert _last_folded_batch(state_dir) >= 0

    import shutil

    shutil.rmtree(ck)  # lose the checkpoint: batch 0 re-delivers
    q2 = maintained_components(
        ledger_dir, state_dir, ck, schema=sch, spark=spark
    )
    q2.awaitTermination()
    after = sorted(
        tuple(r) for r in read_maintained_state(spark, state_dir).collect()
    )
    assert after == before


def test_maintained_bloom_equals_one_shot_build(spark, tmp_path):
    """Bloom state ORed across 3 benchmark ticks must be bit-identical
    to a one-shot bloom_build over the whole ledger, and the resulting
    filter must decontaminate exactly like the direct operator."""
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_build,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_bloom,
        read_bloom_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "blledger")
    state_dir = os.path.join(str(tmp_path), "blstate")
    ck = os.path.join(str(tmp_path), "blck")
    os.makedirs(ledger_dir)
    schema = "text string"
    m_bits, k = 1 << 14, 3

    def tick(rows):
        spark.createDataFrame([(t,) for t in rows], schema).coalesce(
            1
        ).write.mode("append").parquet(ledger_dir)
        q = maintained_bloom(
            ledger_dir, state_dir, ck, m_bits=m_bits, k_hashes=k,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    t1 = ["the quick brown fox jumps over the lazy dog"]
    t2 = ["pack my box with five dozen liquor jugs"]
    t3 = ["the quick brown fox jumps again and again today",
          "sphinx of black quartz judge my vow"]
    for t in (t1, t2, t3):
        tick(t)

    got = read_bloom_state(spark, state_dir, m_bits)
    bench = spark.createDataFrame([(t,) for t in t1 + t2 + t3], schema)
    want = bloom_build(bench, m_bits=m_bits, k_hashes=k)
    assert got == want  # word for word — OR is order/replay-proof
    assert sum(1 for w in got if w) > 0


def test_maintained_components_node_index_mirrors_state(spark, tmp_path):
    """The node-bucketed root index must carry EXACTLY the component
    state's (node, component) rows after every tick — same content,
    different bucketing — so the per-tick endpoint→root lookup can
    partition-prune on node hash instead of scanning state."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        _NODE_IDX_SUFFIX,
        _last_folded_batch,
        maintained_components,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "nledger")
    state_dir = os.path.join(str(tmp_path), "nstate")
    ck = os.path.join(str(tmp_path), "nck")
    os.makedirs(ledger_dir)
    schema = "id_a long, id_b long"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_components(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    for rows in [
        [(1, 2), (2, 3), (10, 11)],
        [(3, 4), (20, 21)],
        [(4, 10), (21, 1)],  # merges everything but nothing else
    ]:
        tick(rows)
        state = sorted(
            tuple(r)
            for r in read_maintained_state(spark, state_dir).collect()
        )
        idx = sorted(
            tuple(r)
            for r in read_maintained_state(
                spark, state_dir + _NODE_IDX_SUFFIX
            ).collect()
        )
        assert idx == state
        # markers stay in lockstep — the pruned-lookup precondition
        assert _last_folded_batch(state_dir + _NODE_IDX_SUFFIX) == (
            _last_folded_batch(state_dir)
        )


def test_maintained_components_node_index_desync_rebuilds(spark, tmp_path):
    """A de-synced node index (crash between the two folds, or a
    pre-index state layout) must NOT corrupt results: the next tick
    falls back to the full-scan resolve, rebuilds the index wholesale,
    and the state still equals the from-scratch closure."""
    import shutil

    from kamu_engine_datafusion_spark.operators.clustering import (
        connected_components,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        _NODE_IDX_SUFFIX,
        maintained_components,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "dledger")
    state_dir = os.path.join(str(tmp_path), "dstate")
    ck = os.path.join(str(tmp_path), "dck")
    os.makedirs(ledger_dir)
    schema = "id_a long, id_b long"
    seen = []

    def tick(rows):
        seen.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_components(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    tick([(1, 2), (2, 3), (10, 11)])
    # simulate the pre-index layout / a lost index: delete it entirely
    shutil.rmtree(state_dir + _NODE_IDX_SUFFIX)
    tick([(3, 4), (11, 1)])  # merge across the two components
    got = {
        r["node"]: r["component"]
        for r in read_maintained_state(spark, state_dir).collect()
    }
    want = {
        r["node"]: r["component"]
        for r in connected_components(
            spark.createDataFrame(seen, schema)
        ).collect()
    }
    assert got == want
    # and the rebuilt index mirrors the state again
    idx = {
        r["node"]: r["component"]
        for r in read_maintained_state(
            spark, state_dir + _NODE_IDX_SUFFIX
        ).collect()
    }
    assert idx == got


def test_components_node_index_bucket_read_runs_no_job(spark, tmp_path):
    """The components fold resolves a tick's endpoints through the
    bucket reader on the node index: once its schema is warm, that read
    starts no Spark job (a read of the partitioned root ran a listing
    and inference job every tick), and it returns exactly the rows of
    the buckets asked for."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        _NODE_IDX_SUFFIX,
        _bucket_dirs,
        _bucket_of,
        _read_buckets,
        maintained_components,
        read_maintained_state,
    )
    from tests.test_coordinator_edges import _spark_jobs

    ledger_dir = os.path.join(str(tmp_path), "rledger")
    state_dir = os.path.join(str(tmp_path), "rstate")
    ck = os.path.join(str(tmp_path), "rck")
    os.makedirs(ledger_dir)
    schema = "id_a long, id_b long"
    for rows in [[(1, 2), (2, 3), (10, 11)], [(3, 4), (20, 21)]]:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_components(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    node_dir = state_dir + _NODE_IDX_SUFFIX
    buckets = _bucket_dirs(node_dir)[:2]
    got = []
    _read_buckets(spark, node_dir, buckets)  # cold: learns the footer
    jobs = _spark_jobs(
        spark, lambda: got.append(_read_buckets(spark, node_dir, buckets))
    )
    assert jobs == 0
    want = read_maintained_state(spark, node_dir).filter(
        _bucket_of(["node"], 16).isin(buckets)
    )
    assert sorted(map(tuple, got[0].collect())) == sorted(
        map(tuple, want.collect())
    )


def test_maintained_weighted_sample_equals_batch_draw(spark, tmp_path):
    """The per-group weighted sample folded across 3 ticks must equal
    the batch weighted_sample_per_group over the whole ledger
    row-for-row — the A-Res key is a pure function of the row id, so
    the cross-tick top-n fold is an exact merge (reservoir never
    drifts with micro-batch boundaries)."""
    import random

    from kamu_engine_datafusion_spark.operators.sampling import (
        weighted_sample_per_group,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_weighted_sample,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "wsledger")
    state_dir = os.path.join(str(tmp_path), "wsstate")
    ck = os.path.join(str(tmp_path), "wsck")
    os.makedirs(ledger_dir)
    schema = "grp string, doc_id long, w long"
    rng = random.Random(5)
    rows_all = []

    def tick(n0, n1):
        rows = [
            (rng.choice(["a", "b", "c"]), i, rng.randint(0, 50))
            for i in range(n0, n1)  # w=0 rows: excluded on both paths
        ]
        rows_all.extend(rows)
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_weighted_sample(
            ledger_dir, state_dir, ck, "w", "grp", n=20,
            key_col="doc_id",
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    for bounds in [(0, 300), (300, 700), (700, 1200)]:
        tick(*bounds)
        got = sorted(
            (r["grp"], r["doc_id"], r["w"])
            for r in read_maintained_state(spark, state_dir)
            .select("grp", "doc_id", "w")
            .collect()
        )
        want = sorted(
            (r["grp"], r["doc_id"], r["w"])
            for r in weighted_sample_per_group(
                spark.createDataFrame(rows_all, schema),
                "w", "grp", n=20, key_col="doc_id", hash_fn="poly",
            ).collect()
        )
        assert got == want
        # the state is EXACTLY <= n rows per group
        sizes = {
            r["grp"]: r["c"]
            for r in read_maintained_state(spark, state_dir)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        assert all(c <= 20 for c in sizes.values())


def test_maintained_phash_index_dedups_across_ticks(spark, tmp_path):
    """The maintained image-dedup index: only survivors' chunk rows
    enter state; duplicates die against EARLIER ticks' survivors (the
    chunk-bucketed fold's touched buckets are exactly the probe set);
    the final index equals the batch increment path run tick by tick."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_phash_index,
        read_maintained_state,
    )

    def hx(v):
        return format(v, "016x")

    ledger_dir = os.path.join(str(tmp_path), "pledger")
    state_dir = os.path.join(str(tmp_path), "pstate")
    ck = os.path.join(str(tmp_path), "pck")
    os.makedirs(ledger_dir)
    schema = "media_id long, phash string"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        q = maintained_phash_index(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        )
        q.awaitTermination()

    base_fp = 0xDEADBEEF12345678
    tick([(1, hx(base_fp)), (2, hx(0x0123456789ABCDEF))])
    tick([
        # Hamming 2 from tick-1's image 1 -> must NOT be indexed
        (10, hx(base_fp ^ (1 << 5) ^ (1 << 50))),
        # novel -> indexed (incl. the bit-63 signed corner)
        (11, hx(0x8000111122223333)),
        # within-tick pair: lower id wins
        (12, hx(0x4444555566667777)),
        (13, hx(0x4444555566667777 ^ (1 << 0))),
    ])
    indexed = sorted(
        set(
            r["media_id"]
            for r in read_maintained_state(spark, state_dir).collect()
        )
    )
    assert indexed == [1, 2, 11, 12]
    # a replayed duplicate of an indexed survivor still dies
    tick([(20, hx(base_fp ^ (1 << 9)))])
    indexed2 = sorted(
        set(
            r["media_id"]
            for r in read_maintained_state(spark, state_dir).collect()
        )
    )
    assert indexed2 == [1, 2, 11, 12]


def test_maintained_phash_index_replayed_batch_is_skipped(spark, tmp_path):
    """Crash-replay safety for the image index: re-delivering an
    already-folded tick must not double-register chunk rows (the
    marker short-circuits before any probe work)."""
    import shutil

    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_phash_index,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "prledger")
    state_dir = os.path.join(str(tmp_path), "prstate")
    ck = os.path.join(str(tmp_path), "prck")
    os.makedirs(ledger_dir)
    spark.createDataFrame(
        [(1, format(0xABCDEF0123456789, "016x")),
         (2, format(0x1111222233334444, "016x"))],
        "media_id long, phash string",
    ).coalesce(1).write.mode("append").parquet(ledger_dir)
    sch = spark.read.parquet(ledger_dir).schema
    maintained_phash_index(
        ledger_dir, state_dir, ck, schema=sch, spark=spark
    ).awaitTermination()
    before = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir)
        .select("media_id", "fp")
        .collect()
    )
    shutil.rmtree(ck)  # lose the checkpoint: batch 0 re-delivers
    maintained_phash_index(
        ledger_dir, state_dir, ck, schema=sch, spark=spark
    ).awaitTermination()
    after = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir)
        .select("media_id", "fp")
        .collect()
    )
    assert after == before


def test_phash_append_intent_heals_at_every_crash_point(spark, tmp_path):
    """The append-only fold's crash protocol: a committed append intent
    left by a crash is applied by _apply_intent, idempotently —
    re-running it moves nothing twice (deterministic dst names, moved
    sources gone), and the state equals the uncrashed run's."""
    import shutil

    from kamu_engine_datafusion_spark.streaming.structured import (
        _apply_intent,
        _stage_dir,
        maintained_phash_index,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "paledger")
    state_dir = os.path.join(str(tmp_path), "pastate")
    ck = os.path.join(str(tmp_path), "pack")
    os.makedirs(ledger_dir)
    spark.createDataFrame(
        [(1, format(0xABCDEF0123456789, "016x")),
         (2, format(0x1111222233334444, "016x"))],
        "media_id long, phash string",
    ).coalesce(1).write.mode("append").parquet(ledger_dir)
    sch = spark.read.parquet(ledger_dir).schema
    maintained_phash_index(
        ledger_dir, state_dir, ck, schema=sch, spark=spark
    ).awaitTermination()
    want = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir)
        .select("media_id", "fp")
        .collect()
    )
    # simulate the crash: reconstruct a committed-but-unapplied append
    # intent by moving one live bucket file back into a staging dir
    import json

    stage = _stage_dir(state_dir)
    os.makedirs(stage, exist_ok=True)
    moved = None
    for bdir in sorted(os.listdir(state_dir)):
        full = os.path.join(state_dir, bdir)
        if not (bdir.startswith("__bucket") and os.path.isdir(full)):
            continue
        files = sorted(f for f in os.listdir(full) if f.endswith(".parquet"))
        if files:
            os.makedirs(os.path.join(stage, bdir), exist_ok=True)
            os.replace(
                os.path.join(full, files[0]),
                os.path.join(stage, bdir, "part-crash.parquet"),
            )
            moved = (
                os.path.join(bdir, "part-crash.parquet"),
                os.path.join(bdir, files[0]),
            )
            break
    assert moved is not None
    with open(os.path.join(stage, "_intent"), "w") as f:
        f.write(json.dumps({"batch_id": 0, "append": [list(moved)]}))
    # the one applier applies the append intent — and is idempotent
    _apply_intent(state_dir)
    assert not os.path.isdir(stage)
    assert os.path.isfile(os.path.join(state_dir, moved[1]))
    _apply_intent(state_dir)
    got = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir)
        .select("media_id", "fp")
        .collect()
    )
    assert got == want


def test_maintained_minhash_index_equals_batch_increment_path(
    spark, tmp_path
):
    """The maintained text index: tick-by-tick state equals the batch
    incremental path (dedup_increment_against_index) run tick by tick;
    cross-tick near-dups die against earlier survivors; replay skips."""
    import shutil

    from kamu_engine_datafusion_spark.operators.dedup import (
        dedup_increment_against_index,
        minhash_index,
        minhash_lsh_dedup,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_minhash_index,
        read_maintained_state,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest tonight"
    )
    ledger_dir = os.path.join(str(tmp_path), "mmledger")
    state_dir = os.path.join(str(tmp_path), "mmstate")
    ck = os.path.join(str(tmp_path), "mmck")
    os.makedirs(ledger_dir)
    schema = "doc_id long, text string"

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_minhash_index(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    t1 = [
        (1, base),
        (2, "completely different words about database engines and "
            "storage formats for analytical queries at scale"),
    ]
    t2 = [
        (10, base + " extra"),  # near-dup of 1 -> dies vs index
        (11, "novel content the third entirely fresh document with "
             "many unique words nobody else used before"),
        (12, "twin pair first copy sharing every single shingle with "
             "its sibling in the same tick exactly"),
        (13, "twin pair first copy sharing every single shingle with "
             "its sibling in the same tick exactly!"),  # dies within
    ]
    tick(t1)
    tick(t2)
    got = sorted(
        set(
            r["doc_id"]
            for r in read_maintained_state(spark, state_dir).collect()
        )
    )
    # batch replay: the same ticks through the batch incremental path
    d1 = spark.createDataFrame(t1, schema)
    s1 = minhash_lsh_dedup(d1, text_col="text", id_col="doc_id")
    idx = minhash_index(s1, "text", "doc_id")
    s2, new_rows = dedup_increment_against_index(
        spark.createDataFrame(t2, schema), idx, "text", "doc_id"
    )
    want = sorted(
        set(r["doc_id"] for r in idx.collect())
        | set(r["doc_id"] for r in new_rows.collect())
    )
    assert got == want
    assert 10 not in got and 13 not in got
    assert {1, 2, 11, 12} <= set(got)
    # the split layout materializes back to the CLASSIC index frame,
    # row-for-row equal to the batch path's index rows
    from kamu_engine_datafusion_spark.streaming.structured import (
        read_maintained_minhash_index,
    )

    classic = sorted(
        (r["doc_id"], tuple(r["sig"]), r["__band"])
        for r in read_maintained_minhash_index(spark, state_dir).collect()
    )
    batch_rows = sorted(
        (r["doc_id"], tuple(r["sig"]), r["__band"])
        for r in idx.unionByName(new_rows).collect()
    )
    assert classic == batch_rows
    # sidecar holds exactly ONE sig row per survivor
    sig_rows = spark.read.parquet(state_dir + ".sigs")
    assert sig_rows.select("doc_id").distinct().count() == len(got)
    assert sig_rows.count() == len(got)
    # crash-replay: losing the checkpoint must not double-register
    before = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir)
        .select("doc_id", "__band")
        .collect()
    )
    shutil.rmtree(ck)
    maintained_minhash_index(
        ledger_dir, state_dir, ck,
        schema=spark.read.parquet(ledger_dir).schema, spark=spark,
    ).awaitTermination()
    after = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir)
        .select("doc_id", "__band")
        .collect()
    )
    assert after == before


def test_compact_state_append_fold(spark, tmp_path):
    """r13 verdict item 4: `compact_state` rewrites a bucket dir's
    accumulated per-tick `b{batch}-{i}.parquet` files into one file
    per bucket WITHOUT changing content, the marker, or replay
    semantics — fold -> compact -> fold -> crash-replay all green, and
    a bucket already at one file stays byte-identical (not rewritten)."""
    import math

    from kamu_engine_datafusion_spark.operators.clustering import (
        lloyd_centroids,
        quantize_vectors,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        _BATCH_MARKER,
        compact_state,
        maintained_semdedup_index,
        read_maintained_state,
    )

    def vec(i, eps=0.0):
        return [math.cos(i * 0.7) + eps, math.sin(i * 0.7)]

    schema = "vec_id long, embedding array<double>"
    ticks = [
        [(0, vec(0)), (1, vec(1)), (2, vec(2)), (3, vec(3))],
        [(10, vec(4)), (11, vec(5))],
        [(20, vec(6)), (21, vec(1))],  # 21 dies vs tick-0 survivor 1
    ]
    all_df = spark.createDataFrame([r for t in ticks for r in t], schema)
    cents = lloyd_centroids(
        quantize_vectors(all_df, "vec_id", "embedding", 10_000),
        "vec_id", dim=2, k=3, iters=2,
    )
    ledger = os.path.join(str(tmp_path), "csledger")
    state = os.path.join(str(tmp_path), "csstate")
    ck = os.path.join(str(tmp_path), "csck")
    os.makedirs(ledger)

    def run():
        maintained_semdedup_index(
            ledger, state, ck, cents,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    def snap():
        return sorted(
            (r["vec_id"], r["cluster"], tuple(r["q2"]), r["n2"])
            for r in read_maintained_state(spark, state).collect()
        )

    def bucket_listing():
        out = {}
        for d in sorted(os.listdir(state)):
            if d.startswith("__bucket="):
                out[d] = sorted(
                    f for f in os.listdir(os.path.join(state, d))
                    if f.endswith(".parquet")
                )
        return out

    # three ticks -> multi-file buckets
    for i, t in enumerate(ticks[:3]):
        spark.createDataFrame(t, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()
    pre_rows = snap()
    pre_marker = open(os.path.join(state, _BATCH_MARKER)).read()
    listing = bucket_listing()
    assert any(len(fs) > 1 for fs in listing.values()), listing
    single = {d for d, fs in listing.items() if len(fs) == 1}
    pre_bytes = {
        d: open(
            os.path.join(state, d, bucket_listing()[d][0]), "rb"
        ).read()
        for d in single
    }

    stats = compact_state(spark, state)
    assert stats["buckets_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    post = bucket_listing()
    assert all(len(fs) == 1 for fs in post.values()), post
    assert snap() == pre_rows  # content-neutral
    assert open(os.path.join(state, _BATCH_MARKER)).read() == pre_marker
    for d in single:  # untouched single-file buckets not rewritten
        assert (
            open(os.path.join(state, d, post[d][0]), "rb").read()
            == pre_bytes[d]
        )

    # compaction is invisible to the protocol: a fourth tick folds,
    # and its content matches folding without compaction
    t4 = [(30, vec(8)), (31, vec(6))]  # 31 dies vs tick-2 survivor 20
    spark.createDataFrame(t4, schema).coalesce(1).write.mode(
        "append"
    ).parquet(ledger)
    run()
    ids = {r[0] for r in snap()}
    assert ids == {0, 1, 2, 3, 10, 11, 20, 30}
    # replay with no new data after compaction: marker skip, no change
    final = snap()
    run()
    assert snap() == final
    # tick 4 appended new per-tick files; compact again, and THEN a
    # further compaction is a no-op (nothing above one file per bucket)
    compact_state(spark, state)
    assert snap() == final
    stats2 = compact_state(spark, state)
    assert stats2["buckets_compacted"] == 0
    assert stats2["files_after"] == stats2["files_before"]


def test_compact_state_heals_interrupted_compaction(spark, tmp_path):
    """A crash between the compaction's intent commit and the bucket
    applies must heal on the next entry (same `_apply_intent` path as
    the folds); a crash BEFORE the intent leaves stale staging that is
    simply discarded."""
    from kamu_engine_datafusion_spark.operators.sketches import cm_counters
    from kamu_engine_datafusion_spark.streaming.structured import (
        _stage_dir,
        _write_intent,
        compact_state,
        maintained_countmin,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "ccledger")
    state_dir = os.path.join(str(tmp_path), "ccstate")
    ck = os.path.join(str(tmp_path), "ccck")
    os.makedirs(ledger_dir)
    schema = "k string"

    def tick(rows):
        spark.createDataFrame([(w,) for w in rows], schema).coalesce(
            1
        ).write.mode("append").parquet(ledger_dir)
        maintained_countmin(
            ledger_dir, state_dir, ck, "k", depth=2, width=8, seed=7,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    tick(["a"] * 3 + ["b"])
    tick(["a", "c", "c"])
    want = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir).collect()
    )

    # crash BEFORE intent: stale staging dir with junk — discarded
    stage = _stage_dir(state_dir)
    os.makedirs(os.path.join(stage, "__bucket=0"), exist_ok=True)
    with open(os.path.join(stage, "__bucket=0", "junk.parquet"), "w") as f:
        f.write("not parquet")
    stats = compact_state(spark, state_dir)
    got = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir).collect()
    )
    assert got == want and not os.path.isdir(stage)

    # crash AFTER intent, before apply: stage a real compaction by
    # hand (copy of the current state content), write the intent, and
    # "crash" — the next compact_state entry must apply it
    full = cm_counters(
        spark.read.parquet(ledger_dir), "k", depth=2, width=8, seed=7
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        _bucket_of,
        _last_folded_batch,
    )

    marker = _last_folded_batch(state_dir)
    (
        full.withColumn("__bucket", _bucket_of(["i", "bucket"], 4))
        .repartition(4, "__bucket")
        .write.partitionBy("__bucket")
        .mode("overwrite")
        .parquet(stage)
    )
    staged = [
        int(d.split("=", 1)[1])
        for d in os.listdir(stage)
        if d.startswith("__bucket=")
    ]
    _write_intent(state_dir, marker, staged, [])
    compact_state(spark, state_dir)  # heals, then finds nothing to do
    got2 = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state_dir).collect()
    )
    assert got2 == want
    assert _last_folded_batch(state_dir) == marker


def test_maintained_quality_rates_equals_batch(spark, tmp_path):
    """r14 staged: per-source Gopher rule-hit counters folded across
    3 ticks must equal the batch counters of the whole ledger
    value-for-value, and the rates read from state must equal the
    rates computed over the full corpus — including a NULL-text row
    (counts in n_docs, passes nothing)."""
    from kamu_engine_datafusion_spark.operators.text import (
        quality_rates_from_counts,
        quality_rule_counts,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_quality_rates,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "qrledger")
    state_dir = os.path.join(str(tmp_path), "qrstate")
    ck = os.path.join(str(tmp_path), "qrck")
    os.makedirs(ledger_dir)
    schema = "source string, text string"
    good = " ".join(f"word{i}" for i in range(60))  # passes word count
    short = "too short"
    symbols = " ".join(["###"] * 60)

    ticks = [
        [("a", good), ("a", short), ("b", good)],
        [("a", good), ("b", symbols), ("b", None)],
        [("c", short), ("a", good)],
    ]

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_quality_rates(
            ledger_dir, state_dir, ck, "source",
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    for t in ticks:
        tick(t)

    full = spark.createDataFrame([r for t in ticks for r in t], schema)
    want_counts = sorted(
        tuple(r) for r in quality_rule_counts(full, "source").collect()
    )
    state = read_maintained_state(spark, state_dir)
    got_counts = sorted(
        tuple(r)
        for r in state.select(
            *[f.name for f in quality_rule_counts(full, "source").schema]
        ).collect()
    )
    assert got_counts == want_counts
    want_rates = sorted(
        tuple(r)
        for r in quality_rates_from_counts(
            quality_rule_counts(full, "source")
        ).collect()
    )
    got_rates = sorted(
        tuple(r) for r in quality_rates_from_counts(state).collect()
    )
    assert got_rates == want_rates
    by_grp = {r[0]: r for r in got_rates}
    assert by_grp["c"][1] == 1  # n_docs
    # NULL text counts in n_docs and passes nothing: source b has 3
    # docs of which the NULL passes no rule
    assert by_grp["b"][1] == 3


def test_maintained_term_counts_vocab_and_oov(spark, tmp_path):
    """r14 staged: the wordcount state folded across 3 ticks equals
    batch term_counts of the whole ledger; vocabulary_from_counts over
    the state equals batch vocabulary() row-for-row (same rank order);
    and oov_rate of a new tick against the from-state vocabulary
    equals the batch path."""
    from kamu_engine_datafusion_spark.operators.text import (
        oov_rate,
        term_counts,
        vocabulary,
        vocabulary_from_counts,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_term_counts,
        read_maintained_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "tcledger")
    state_dir = os.path.join(str(tmp_path), "tcstate")
    ck = os.path.join(str(tmp_path), "tcck")
    os.makedirs(ledger_dir)
    schema = "doc_id long, text string"
    ticks = [
        [(0, "alpha beta gamma alpha"), (1, "beta beta delta")],
        [(2, "alpha epsilon zeta"), (3, "beta alpha alpha")],
        [(4, "eta theta beta")],
    ]

    def tick(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger_dir)
        maintained_term_counts(
            ledger_dir, state_dir, ck,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    for t in ticks:
        tick(t)

    full = spark.createDataFrame([r for t in ticks for r in t], schema)
    want = sorted(tuple(r) for r in term_counts(full).collect())
    state = read_maintained_state(spark, state_dir)
    got = sorted(
        tuple(r) for r in state.select("token", "freq").collect()
    )
    assert got == want

    v_state = sorted(
        tuple(r) for r in vocabulary_from_counts(state, top_v=4).collect()
    )
    v_batch = sorted(
        tuple(r) for r in vocabulary(full, top_v=4).collect()
    )
    assert v_state == v_batch and len(v_state) == 4

    new_tick = spark.createDataFrame(
        [(10, "alpha omega beta"), (11, "psi omega")], schema
    )
    o_state = sorted(
        tuple(r)
        for r in oov_rate(
            new_tick, vocabulary_from_counts(state, top_v=4)
        ).collect()
    )
    o_batch = sorted(
        tuple(r)
        for r in oov_rate(new_tick, vocabulary(full, top_v=4)).collect()
    )
    assert o_state == o_batch


def test_bloom_flag_with_bitmap_from_maintained_state(spark, tmp_path):
    """r14 staged: decontaminating a new corpus tick with the bitmap
    read from maintained_bloom state must equal bloom_flag_contaminated
    (fresh bitmap) AND the direct exact rule over the same
    populations — the maintained filter never re-shingles the
    benchmark for phase 1."""
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_flag_contaminated,
        bloom_flag_with_bitmap,
        flag_contaminated,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_bloom,
        read_bloom_state,
    )

    ledger_dir = os.path.join(str(tmp_path), "bfledger")
    state_dir = os.path.join(str(tmp_path), "bfstate")
    ck = os.path.join(str(tmp_path), "bfck")
    os.makedirs(ledger_dir)
    schema = "text string"
    m_bits, k = 1 << 10, 3  # deliberately tiny -> real false positives

    bench_ticks = [
        ["the quick brown fox jumps over the lazy dog"],
        ["pack my box with five dozen liquor jugs"],
        ["sphinx of black quartz judge my vow today"],
    ]

    def tick(rows):
        spark.createDataFrame([(t,) for t in rows], schema).coalesce(
            1
        ).write.mode("append").parquet(ledger_dir)
        maintained_bloom(
            ledger_dir, state_dir, ck, m_bits=m_bits, k_hashes=k,
            schema=spark.read.parquet(ledger_dir).schema, spark=spark,
        ).awaitTermination()

    for t in bench_ticks:
        tick(t)

    bench = spark.createDataFrame(
        [(t,) for tk in bench_ticks for t in tk], schema
    ).withColumn("doc_id", F.monotonically_increasing_id())
    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog entirely"),
            (1, "completely unrelated text about gardening and soil"),
            (2, "pack my box with five dozen liquor jugs please"),
            (3, "another clean document with no overlap whatsoever"),
        ],
        "doc_id long, text string",
    )
    bitmap = read_bloom_state(spark, state_dir, m_bits)
    got = sorted(
        tuple(r)
        for r in bloom_flag_with_bitmap(
            corpus, bench, bitmap, m_bits=m_bits, k_hashes=k
        ).collect()
    )
    fresh = sorted(
        tuple(r)
        for r in bloom_flag_contaminated(
            corpus, bench, m_bits=m_bits, k_hashes=k
        ).collect()
    )
    direct = sorted(
        tuple(r)
        for r in flag_contaminated(corpus, bench).collect()
    )
    assert got == fresh == direct
    assert {r[0] for r in got if r[2]} == {0, 2}


def test_maintained_postings_bm25_topk(spark, tmp_path):
    """r14 staged: the maintained inverted index — 3-tick append fold
    of postings rows equals batch postings_increment of the whole
    ledger; the partition-pruned BM25 top-k read equals the batch
    from-postings ranking, which equals a python half-up replay of
    bm25_scores; and compact_state on the postings root is
    content-neutral."""
    import math

    from kamu_engine_datafusion_spark.operators.retrieval import (
        bm25_scores,
        bm25_topk_from_postings,
        postings_increment,
        term_stats_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        compact_state,
        maintained_postings,
        maintained_term_stats,
        read_maintained_bm25_topk,
        read_maintained_state,
    )

    docs = [
        (0, "vector hash stream merge vector"),
        (1, "hash hash hash join probe"),
        (2, "stream stream merge window state"),
        (3, "completely unrelated words here"),
        (4, "vector merge"),
        (5, "the quick brown fox"),
        (6, "vector vector vector stream"),
        (7, "merge sort hash partition"),
    ]
    schema = "doc_id long, text string"
    ticks = [docs[0:3], docs[3:6], docs[6:8]]
    pledger = os.path.join(str(tmp_path), "poledger")
    pstate = os.path.join(str(tmp_path), "postate")
    pck = os.path.join(str(tmp_path), "pock")
    sstate = os.path.join(str(tmp_path), "ststate")
    sck = os.path.join(str(tmp_path), "stck")
    os.makedirs(pledger)

    for t in ticks:
        spark.createDataFrame(t, schema).coalesce(1).write.mode(
            "append"
        ).parquet(pledger)
        maintained_postings(
            pledger, pstate, pck,
            schema=spark.read.parquet(pledger).schema, spark=spark,
        ).awaitTermination()
        maintained_term_stats(
            pledger, sstate, sck,
            schema=spark.read.parquet(pledger).schema, spark=spark,
        ).awaitTermination()

    full = spark.createDataFrame(docs, schema)
    want_postings = sorted(
        tuple(r) for r in postings_increment(full).collect()
    )
    got_postings = sorted(
        tuple(r)
        for r in read_maintained_state(spark, pstate)
        .select("term", "doc_id", "tf", "dl")
        .collect()
    )
    assert got_postings == want_postings

    terms = ["vector", "merge", "hash", "stream"]
    got = [
        tuple(r)
        for r in read_maintained_bm25_topk(
            spark, pstate, sstate, terms, k=5
        ).collect()
    ]
    batch = [
        tuple(r)
        for r in bm25_topk_from_postings(
            postings_increment(full), term_stats_increment(full), terms,
            k=5,
        ).collect()
    ]
    assert got == batch

    # python replay of bm25_scores: half-up 6dp + (score desc, id) cut
    ref = {
        r["doc_id"]: (r["n_terms_matched"], r["score"])
        for r in bm25_scores(full, terms).collect()
    }
    replay = sorted(
        (
            -(math.floor(s * 1e6 + 0.5) / 1e6),
            d,
            n,
        )
        for d, (n, s) in ref.items()
    )[:5]
    want = [
        (i + 1, d, n, -negs) for i, (negs, d, n) in enumerate(replay)
    ]
    assert got == want

    # compaction (term-sorted) is content-neutral on the postings root
    stats = compact_state(spark, pstate, sort_cols=["term"])
    assert stats["files_after"] <= stats["files_before"]
    after = [
        tuple(r)
        for r in read_maintained_bm25_topk(
            spark, pstate, sstate, terms, k=5
        ).collect()
    ]
    assert after == got


def test_maintained_sessions_equals_batch(spark, tmp_path):
    """r14 staged: gap-based sessionization folded tick by tick (open
    state + append-only closed log) must equal the batch lag+cumsum
    sessionizer over the whole ledger row-for-row — including a user
    idle across a whole tick (state passes through untouched), a
    session spanning a tick boundary, multiple sessions inside one
    tick, and a replayed no-new-data run. Out-of-order ticks fail
    loudly (the append-ledger contract)."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.sessions import (
        session_fold_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_sessions,
        read_maintained_sessions,
    )

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60,
                        tzinfo=timezone.utc)

    gap = 1800  # 30 min
    # user 1: session A spans ticks 0-1; long gap; session B in tick 2
    # user 2: two sessions inside tick 0; idle through tick 1; extends
    #         the open one in tick 2 (gap < 30m from its last event)
    # user 3: appears first in tick 2
    ticks = [
        [(1, t(0), 100), (1, t(10), 101), (2, t(0), 102),
         (2, t(5), 103), (2, t(120), 104)],
        [(1, t(25), 105), (1, t(40), 106)],
        [(1, t(200), 107), (2, t(140), 108), (3, t(0), 109)],
    ]
    schema = "user_id long, ts timestamp, event_id long"
    ledger = os.path.join(str(tmp_path), "ssledger")
    state = os.path.join(str(tmp_path), "ssstate")
    ck = os.path.join(str(tmp_path), "ssck")
    os.makedirs(ledger)

    def run():
        maintained_sessions(
            ledger, state, ck, gap_sec=gap,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    def batch_sessions():
        from pyspark.sql import Window

        ev = spark.read.parquet(ledger)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        flagged = ev.select(
            "user_id", "ts", "event_id",
            F.when(
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(w) > gap,
                F.lit(1),
            ).otherwise(F.lit(0)).alias("ns"),
        )
        sess = flagged.withColumn(
            "session_id",
            F.sum("ns").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("long"),
        )
        return sess.groupBy("user_id", "session_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.floor(
                (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
                / 1000
            ).cast("long").alias("duration_sec"),
        )

    got = sorted(
        tuple(r)
        for r in read_maintained_sessions(spark, state).collect()
    )
    want = sorted(tuple(r) for r in batch_sessions().collect())
    assert got == want
    # shape sanity: user 1 chains min 0-40 into one session then
    # breaks at 200 (2 sessions); user 2 has 2; user 3 has 1
    import collections

    per_user = collections.Counter(u for (u, *_id) in got)
    assert per_user == {1: 2, 2: 2, 3: 1}

    # replay with no new data: nothing changes
    run()
    again = sorted(
        tuple(r)
        for r in read_maintained_sessions(spark, state).collect()
    )
    assert again == got

    # out-of-order tick: an event BEFORE user 1's open last_ms raises
    bad = spark.createDataFrame([(1, t(100), 999)], schema)
    st = spark.read.parquet(state).drop("__bucket")
    with _pytest.raises(ValueError, match="event-time order"):
        c, n = session_fold_increment(st, bad, gap)
        c.collect()


def test_maintained_activity_retention_equals_batch(spark, tmp_path):
    """r14 staged: per-user activity state (min cohort + bucket-set
    union — idempotent semilattice merges) folded across 3 ticks must
    yield a retention matrix identical to batch retention_cohorts over
    the whole ledger — including OUT-OF-ORDER ticks (a user's earliest
    week arriving last must retroactively move their cohort) and a
    double-applied increment (idempotence: merging a tick twice
    changes nothing)."""
    from datetime import datetime, timezone

    from kamu_engine_datafusion_spark.operators.funnel import (
        activity_increment,
        activity_merge,
        retention_cohorts,
        retention_from_activity,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_activity,
        read_maintained_retention,
    )

    def d(day):
        return datetime(2024, 1, day, 12, 0, tzinfo=timezone.utc)

    schema = "user_id long, ts timestamp, event_id long"
    # weeks of Jan 2024: 1st(Mon) / 8th / 15th / 22nd
    ticks = [
        [(1, d(8), 0), (1, d(9), 1), (2, d(8), 2)],     # wk2 activity
        [(1, d(15), 3), (2, d(22), 4), (3, d(15), 5)],  # later weeks
        [(1, d(1), 6), (2, d(16), 7)],  # OUT-OF-ORDER: user 1's TRUE
                                        # first week (wk1) arrives last
    ]
    ledger = os.path.join(str(tmp_path), "raledger")
    state = os.path.join(str(tmp_path), "rastate")
    ck = os.path.join(str(tmp_path), "rack")
    os.makedirs(ledger)

    def run():
        maintained_activity(
            ledger, state, ck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    full = spark.createDataFrame(
        [r for tk in ticks for r in tk], schema
    )
    got = sorted(
        tuple(r)
        for r in read_maintained_retention(spark, state).collect()
    )
    want = sorted(
        tuple(r) for r in retention_cohorts(full).collect()
    )
    assert got == want
    # user 1's cohort must be week 1 despite it arriving in tick 3
    # (collected timestamps come back session-local naive)
    wk1 = datetime(2024, 1, 1)
    per0 = {
        (r["cohort_start"], r["period"]): r["n_users"] for r in
        read_maintained_retention(spark, state).collect()
    }
    assert per0[(wk1, 0)] == 1 and per0[(wk1, 2)] == 1

    # idempotence: merging an already-folded tick AGAIN changes nothing
    inc = activity_increment(spark.createDataFrame(ticks[1], schema))
    st = spark.read.parquet(state).drop("__bucket")
    again = sorted(
        tuple(r)
        for r in retention_from_activity(
            activity_merge(st, inc)
        ).collect()
    )
    assert again == got


def test_maintained_sessions_heals_crash_between_roots(spark, tmp_path):
    """The sessions fold's two-root sequencing under a crash BETWEEN
    the closed-log append and the open-state rewrite: simulate the
    half-applied tick by hand (closed append lands under its marker,
    state rewrite never runs), then deliver the same batch through the
    streaming wrapper — the closed append must self-skip on its marker
    (no double rows) and the state rewrite must recompute from the
    UNCHANGED old state, leaving closed ∪ open equal to the batch
    sessionizer."""
    from datetime import datetime, timezone

    from kamu_engine_datafusion_spark.operators.sessions import (
        session_fold_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        _CLOSED_SUFFIX,
        _fold_buckets_append,
        maintained_sessions,
        read_maintained_sessions,
    )

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60,
                        tzinfo=timezone.utc)

    schema = "user_id long, ts timestamp, event_id long"
    ticks = [
        [(1, t(0), 0), (2, t(0), 1)],
        [(1, t(10), 2), (2, t(120), 3)],   # user 2's session closes
        [(1, t(300), 4), (2, t(130), 5)],  # user 1's closes
    ]
    ledger = os.path.join(str(tmp_path), "scledger")
    state = os.path.join(str(tmp_path), "scstate")
    ck = os.path.join(str(tmp_path), "scck")
    closed_dir = state + _CLOSED_SUFFIX
    os.makedirs(ledger)

    def run():
        maintained_sessions(
            ledger, state, ck, gap_sec=1800,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks[:2]:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    # tick 3 lands on the ledger; CRASH-SIMULATION: apply ONLY the
    # closed append (batch_id 2 — the checkpoint's next sequential id)
    batch3 = spark.createDataFrame(ticks[2], schema)
    batch3.coalesce(1).write.mode("append").parquet(ledger)
    old_state = spark.read.parquet(state).drop("__bucket")
    closed3, _ = session_fold_increment(old_state, batch3, 1800)
    _fold_buckets_append(
        closed3.localCheckpoint(eager=True), 2, closed_dir,
        ["user_id"], 8, lambda s, d: d, read_state=False,
    )
    n_closed_half = spark.read.parquet(closed_dir).count()
    assert n_closed_half > 0

    # recovery: the wrapper re-delivers batch 2
    run()
    assert spark.read.parquet(closed_dir).count() == n_closed_half  # no dup

    # final view == batch sessionizer over the whole ledger
    from pyspark.sql import Window

    ev = spark.read.parquet(ledger)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.col("ts").cast("long")
            - F.lag(F.col("ts").cast("long")).over(w) > 1800,
            F.lit(1),
        ).otherwise(F.lit(0)).alias("ns"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("ns").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    want = sorted(
        tuple(r)
        for r in sess.groupBy("user_id", "session_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.floor(
                (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts")))
                / 1000
            ).cast("long").alias("duration_sec"),
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in read_maintained_sessions(spark, state).collect()
    )
    assert got == want


def test_maintained_funnel_equals_batch(spark, tmp_path):
    """r14 staged: per-user greedy-walk funnel state folded across 3
    event-time-ordered ticks must yield per-step counts identical to
    batch funnel_counts over the whole ledger — including a user whose
    step-2 event arrives ticks after step 1, a user who repeats step 1
    (no double-advance), an out-of-order-step user who never advances,
    and idle-user pass-through. Out-of-order ticks raise loudly."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.funnel import (
        funnel_counts,
        funnel_fold_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_funnel,
        read_maintained_funnel,
    )

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60,
                        tzinfo=timezone.utc)

    steps = ["view", "click", "purchase"]
    schema = "user_id long, ts timestamp, event_type string, event_id long"
    ticks = [
        # u1 completes step 1; u2 starts; u3 does steps OUT OF ORDER
        [(1, t(0), "view", 0), (2, t(1), "view", 1),
         (3, t(0), "click", 2), (3, t(2), "purchase", 3)],
        # u1 repeats step 1 (no advance) then clicks; u2 idle;
        # u4 appears and views; noise event type ignored
        [(1, t(10), "view", 4), (1, t(11), "click", 5),
         (4, t(10), "view", 6), (1, t(12), "error", 7)],
        # u1 purchases (full funnel); u2 clicks; u3 views (step 1 at
        # last — depth becomes 1 only now)
        [(1, t(20), "purchase", 8), (2, t(21), "click", 9),
         (3, t(22), "view", 10)],
    ]
    ledger = os.path.join(str(tmp_path), "fnledger")
    state = os.path.join(str(tmp_path), "fnstate")
    ck = os.path.join(str(tmp_path), "fnck")
    os.makedirs(ledger)

    def run():
        maintained_funnel(
            ledger, state, ck, steps,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    full = spark.createDataFrame(
        [r for tk in ticks for r in tk], schema
    )
    got = sorted(
        tuple(r)
        for r in read_maintained_funnel(spark, state, steps).collect()
    )
    want = sorted(
        tuple(r) for r in funnel_counts(full, steps).collect()
    )
    assert got == want
    by_step = {r[0]: r[2] for r in got}
    # u1 full funnel; u2 view+click; u3 view only (late); u4 view only
    assert by_step == {1: 4, 2: 2, 3: 1}

    # replay no-op
    run()
    assert sorted(
        tuple(r)
        for r in read_maintained_funnel(spark, state, steps).collect()
    ) == got

    # out-of-order tick raises
    st = spark.read.parquet(state).drop("__bucket")
    bad = spark.createDataFrame([(1, t(5), "click", 99)], schema)
    with _pytest.raises(ValueError, match="event-time order"):
        funnel_fold_increment(st, bad, steps).collect()


def test_maintained_transitions_equals_batch(spark, tmp_path):
    """r14 staged: Markov pair counts folded tick by tick (within-tick
    adjacent pairs + one boundary pair per continuing user against the
    stored last event) must equal batch event_transitions over the
    whole ledger row-for-row — including a boundary pair spanning a
    tick, an idle user whose last event survives two ticks before
    pairing, and a replayed no-new-data run. Out-of-order ticks raise."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.funnel import (
        event_transitions,
        transitions_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_transitions,
        read_maintained_transitions,
    )

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60,
                        tzinfo=timezone.utc)

    schema = "user_id long, ts timestamp, event_type string, event_id long"
    ticks = [
        [(1, t(0), "view", 0), (1, t(1), "click", 1),
         (2, t(0), "view", 2)],
        # u1 boundary pair click->view; u2 idle; u3 appears
        [(1, t(10), "view", 3), (3, t(10), "signup", 4)],
        # u2's boundary pair view->purchase spans TWO ticks of idling
        [(2, t(20), "purchase", 5), (1, t(21), "click", 6),
         (3, t(20), "view", 7)],
    ]
    ledger = os.path.join(str(tmp_path), "trledger")
    state = os.path.join(str(tmp_path), "trstate")
    ck = os.path.join(str(tmp_path), "trck")
    os.makedirs(ledger)

    def run():
        maintained_transitions(
            ledger, state, ck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    full = spark.createDataFrame(
        [r for tk in ticks for r in tk], schema
    )
    got = sorted(
        tuple(r)
        for r in read_maintained_transitions(spark, state).collect()
    )
    want = sorted(
        tuple(r) for r in event_transitions(full).collect()
    )
    assert got == want
    m = {(a, b): n for (a, b, n, _p) in got}
    assert m[("view", "purchase")] == 1  # u2's two-tick-idle boundary
    assert m[("click", "view")] == 1     # u1's tick-1/2 boundary

    # replay no-op
    run()
    assert sorted(
        tuple(r)
        for r in read_maintained_transitions(spark, state).collect()
    ) == got

    # out-of-order tick raises against the stored last event
    st = spark.read.parquet(state).drop("__bucket")
    bad = spark.createDataFrame([(1, t(5), "view", 99)], schema)
    with _pytest.raises(ValueError, match="event-time order"):
        transitions_increment(st, bad)[0].collect()


def test_maintained_debounce_equals_batch(spark, tmp_path):
    """r14 staged: the debounce fold's kept log across 3 ticks must
    equal batch debounce_events over the whole ledger row-for-row —
    including a burst that spans a tick boundary (the first event of
    tick 2 suppressed by the stored last RAW event, kept or not), a
    chain of sub-gap events collapsing to the burst head, and a
    replayed no-new-data run. Out-of-order ticks raise."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.funnel import (
        debounce_events,
        debounce_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_debounce,
        read_maintained_debounce,
    )

    def t(sec):
        return datetime(2024, 1, 1, sec // 3600, (sec % 3600) // 60,
                        sec % 60, tzinfo=timezone.utc)

    gap = 600.0
    schema = "user_id long, ts timestamp, event_type string, event_id long"
    ticks = [
        # u1 burst: 0, 30, 90 (all sub-gap after the head) -> keep t0
        [(1, t(0), "click", 0), (1, t(30), "click", 1),
         (1, t(90), "click", 2), (2, t(0), "view", 3)],
        # u1's 650 is 560s after RAW 90 -> suppressed (sub-gap);
        # u2's 700 is 700s after 0 -> kept
        [(1, t(650), "click", 4), (2, t(700), "view", 5)],
        # u1's 1600 is 950s after RAW 650 -> kept (even though 650
        # itself was suppressed — the lag-vs-RAW semantics)
        [(1, t(1600), "click", 6)],
    ]
    ledger = os.path.join(str(tmp_path), "dbledger")
    state = os.path.join(str(tmp_path), "dbstate")
    ck = os.path.join(str(tmp_path), "dbck")
    os.makedirs(ledger)

    def run():
        maintained_debounce(
            ledger, state, ck, gap_seconds=gap,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    full = spark.createDataFrame(
        [r for tk in ticks for r in tk], schema
    )
    cols = ["user_id", "ts", "event_type", "event_id"]
    got = sorted(
        tuple(r)
        for r in read_maintained_debounce(spark, state)
        .select(*cols)
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in debounce_events(full, gap_seconds=gap)
        .select(*cols)
        .collect()
    )
    assert got == want
    assert {r[3] for r in got} == {0, 3, 5, 6}

    # replay no-op
    run()
    assert sorted(
        tuple(r)
        for r in read_maintained_debounce(spark, state)
        .select(*cols)
        .collect()
    ) == got

    # out-of-order tick raises
    st = spark.read.parquet(state).drop("__bucket")
    bad = spark.createDataFrame([(1, t(100), "click", 99)], schema)
    with _pytest.raises(ValueError, match="event-time order"):
        debounce_increment(st, bad, gap_seconds=gap)[0].collect()


@pytest.mark.parametrize(
    "module, step, fold",
    [
        ("sessions", "session_fold_increment", "maintained_sessions"),
        ("funnel", "transitions_increment", "maintained_transitions"),
        ("funnel", "debounce_increment", "maintained_debounce"),
    ],
)
def test_two_root_fold_runs_its_step_once_per_tick(
    spark, tmp_path, monkeypatch, module, step, fold
):
    """A two-root fold (side rows first, new state second) reads its
    touched state once and calls its operator step once per tick: both
    roots are committed from that one call's ``(side_rows,
    new_state)``, not from a second run of the step."""
    import importlib

    from kamu_engine_datafusion_spark.streaming import structured

    mod = importlib.import_module(
        f"kamu_engine_datafusion_spark.operators.{module}"
    )
    real = getattr(mod, step)
    calls = []

    def counted(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    # the folds import their step at call time, so the module
    # attribute is what they run
    monkeypatch.setattr(mod, step, counted)

    def t(minute):
        return datetime(2024, 1, 1, 0, minute, tzinfo=UTC)

    schema = "user_id long, ts timestamp, event_type string, event_id long"
    ledger, state, ck = (
        os.path.join(str(tmp_path), n) for n in ("ledger", "state", "ck")
    )
    ticks = [
        [(1, t(0), "view", 0), (2, t(0), "view", 1)],
        [(1, t(50), "click", 2)],
    ]
    for i, rows in enumerate(ticks):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        getattr(structured, fold)(
            ledger, state, ck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()
        assert len(calls) == i + 1


def test_compact_state_if_needed_cadence_and_closed_log(spark, tmp_path):
    """r14 verdict item 7: the compaction CADENCE helper and the
    `.closed` append-log coverage — below the trigger it is a pure
    listing (None, zero files touched); above it, it compacts the
    sessions closed log (which rides the same bucket layout as every
    append fold), the live closed ∪ open read is unchanged, the
    closed log's own marker survives, and the next fold + replay both
    still work."""
    from datetime import datetime, timezone

    from kamu_engine_datafusion_spark.streaming.structured import (
        _last_folded_batch,
        compact_state_if_needed,
        maintained_sessions,
        read_maintained_sessions,
    )

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60,
                        tzinfo=timezone.utc)

    schema = "user_id long, ts timestamp, event_id long"
    # each later tick closes the previous session of BOTH users, so
    # the closed log appends a file to the same user buckets per tick
    ticks = [
        [(1, t(0), 1), (2, t(0), 2)],
        [(1, t(100), 3), (2, t(100), 4)],
        [(1, t(300), 5), (2, t(300), 6)],
    ]
    ledger = os.path.join(str(tmp_path), "ccledger")
    state = os.path.join(str(tmp_path), "ccstate")
    ck = os.path.join(str(tmp_path), "ccck")
    closed = state + ".closed"
    os.makedirs(ledger)

    def run():
        maintained_sessions(
            ledger, state, ck, gap_sec=1800,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    def closed_files():
        out = []
        for d in sorted(os.listdir(closed)):
            if not d.startswith("__bucket="):
                continue
            p = os.path.join(closed, d)
            out.extend(
                os.path.join(d, f)
                for f in sorted(os.listdir(p))
                if f.endswith(".parquet")
            )
        return out

    before_files = closed_files()
    assert len(before_files) >= 2  # two closes appended per user bucket
    live_before = sorted(
        tuple(r) for r in read_maintained_sessions(spark, state).collect()
    )
    marker_before = _last_folded_batch(closed)

    # below the trigger: cheap no-op, nothing touched
    assert (
        compact_state_if_needed(spark, closed, trigger_files_per_bucket=64)
        is None
    )
    assert closed_files() == before_files

    # above the trigger: compacts to one file per bucket, content-,
    # marker-, and read-neutral
    stats = compact_state_if_needed(
        spark, closed, trigger_files_per_bucket=1
    )
    assert stats is not None and stats["buckets_compacted"] >= 1
    assert stats["files_after"] < stats["files_before"]
    assert _last_folded_batch(closed) == marker_before
    live_after = sorted(
        tuple(r) for r in read_maintained_sessions(spark, state).collect()
    )
    assert live_after == live_before

    # the fold continues over the compacted log: one more tick closes
    # the open sessions again; replay stays a no-op
    spark.createDataFrame(
        [(1, t(500), 7), (2, t(500), 8)], schema
    ).coalesce(1).write.mode("append").parquet(ledger)
    run()
    live_next = sorted(
        tuple(r) for r in read_maintained_sessions(spark, state).collect()
    )
    assert len(live_next) == len(live_before) + 2  # two more closes
    run()  # replay: no new data, nothing changes
    assert (
        sorted(
            tuple(r)
            for r in read_maintained_sessions(spark, state).collect()
        )
        == live_next
    )


def test_maintained_term_stats_sorted_layout(spark, tmp_path):
    """r14 verdict item 6: the term-stats rewrite fold writes each
    bucket file SORTED by term (BM25 reads carry literal term
    predicates, so parquet row-group min/max stats can prune the
    vocab-sized state below the bucket level) — and the sorted layout
    is content-neutral: state ≡ the batch increment of the whole
    ledger."""
    from kamu_engine_datafusion_spark.operators.retrieval import (
        term_stats_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_term_stats,
        read_maintained_state,
    )

    docs = [
        (0, "vector hash stream merge vector"),
        (1, "hash hash hash join probe"),
        (2, "stream stream merge window state"),
        (3, "zebra apple mango banana"),
        (4, "vector merge"),
    ]
    schema = "doc_id long, text string"
    ledger = os.path.join(str(tmp_path), "tsledger")
    state = os.path.join(str(tmp_path), "tsstate")
    ck = os.path.join(str(tmp_path), "tsck")
    os.makedirs(ledger)
    for tk in (docs[0:3], docs[3:5]):
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_term_stats(
            ledger, state, ck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    # every bucket file's term column is sorted (row-group stats are
    # tight, disjoint ranges a literal IN-filter can prune against)
    n_checked = 0
    for d in sorted(os.listdir(state)):
        if not d.startswith("__bucket="):
            continue
        p = os.path.join(state, d)
        for f in sorted(os.listdir(p)):
            if f.endswith(".parquet"):
                col = pq.read_table(
                    os.path.join(p, f), columns=["term"]
                )["term"].to_pylist()
                assert col == sorted(col)
                n_checked += 1
    assert n_checked >= 1

    # content-neutral: fold ≡ batch increment of the whole ledger
    full = spark.createDataFrame(docs, schema)
    want = sorted(tuple(r) for r in term_stats_increment(full).collect())
    got = sorted(
        tuple(r) for r in read_maintained_state(spark, state).collect()
    )
    assert got == want


def test_maintained_intervals_equals_batch(spark, tmp_path):
    """r15 staged: per-group interval-consolidation state folded tick
    by tick must equal the batch merge_intervals of the whole ledger
    row-for-row (island ids included) — including an island grown
    across ticks, a touching-endpoint merge ([1,5]+[5,9]), two islands
    fusing when a later tick bridges them, an untouched group passing
    through a touched bucket unchanged, and an inverted tick row
    dropped. The geometry fold is order-insensitive: the module-level
    increment applied in REVERSE tick order produces the identical
    state. Replay is a no-op via the marker (n_merged is additive)."""
    from kamu_engine_datafusion_spark.operators.rangejoin import (
        intervals_increment,
        merge_intervals,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_intervals,
        read_maintained_state,
    )

    schema = "user_id long, start_us long, end_us long"
    # u1: [0,10] grows to [0,25] (overlap), then [5,9] inside; [40,50]
    #     and [60,70] separate islands, bridged by [45,65] in tick 2
    # u2: [1,5] + [5,9] touching-endpoint merge; [100,110] separate
    # u3: only in tick 0 (passes through later ticks untouched)
    ticks = [
        [(1, 0, 10), (1, 40, 50), (2, 1, 5), (3, 7, 8)],
        [(1, 15, 25), (1, 5, 9), (1, 60, 70), (2, 5, 9), (1, 9, 16)],
        [(1, 45, 65), (2, 100, 110), (2, 50, 40)],  # last row inverted
    ]
    ledger = os.path.join(str(tmp_path), "ivledger")
    state = os.path.join(str(tmp_path), "ivstate")
    ck = os.path.join(str(tmp_path), "ivck")
    os.makedirs(ledger)

    def run():
        maintained_intervals(
            ledger, state, ck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        run()

    full = spark.createDataFrame([r for t in ticks for r in t], schema)
    want = sorted(
        tuple(r)
        for r in merge_intervals(
            full, "start_us", "end_us", ["user_id"]
        )
        .select("user_id", "island", "start_us", "end_us", "n_merged")
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state)
        .select("user_id", "island", "start_us", "end_us", "n_merged")
        .collect()
    )
    assert got == want
    # the bridge fused u1's [40,50]+[60,70] via [45,65]
    u1 = [r for r in got if r[0] == 1]
    assert (1, 2, 40, 70, 3) in u1

    # replay with no new data: nothing changes (marker skip)
    run()
    assert (
        sorted(
            tuple(r)
            for r in read_maintained_state(spark, state)
            .select("user_id", "island", "start_us", "end_us", "n_merged")
            .collect()
        )
        == got
    )

    # order-insensitive: the module-level fold in REVERSE tick order
    # lands on the identical state (geometry is a set function;
    # n_merged is additive, so any exactly-once order agrees)
    st = None
    for tk in reversed(ticks):
        st = intervals_increment(
            st, spark.createDataFrame(tk, schema),
            "start_us", "end_us", ["user_id"],
        )
    rev = sorted(tuple(r) for r in st.collect())
    assert rev == [
        (u, i, s, e, n) for (u, i, s, e, n) in want
    ]


def test_maintained_asof_state_probe_equals_batch(spark, tmp_path):
    """r15 staged: per-key-latest as-of serving state folded tick by
    tick (idempotent max-merge — ticks in any order, double-apply
    safe) must answer an event-time-current probe exactly like the
    batch asof_join over the WHOLE right history — including a key
    whose latest update landed two ticks ago, an equal-ts match (<=
    semantics), and an unmatched key under both how='inner' and
    how='left'. A historical probe (left ts before its key's stored
    right ts) raises loudly."""
    from datetime import datetime, timezone

    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.asof import (
        asof_join,
        asof_state_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_asof_state,
        read_asof_probe,
    )

    def t(minute):
        return datetime(2024, 1, 1, minute // 60, minute % 60,
                        tzinfo=timezone.utc)

    rschema = "key long, ts timestamp, price double, rid long"
    # key 1 updates every tick; key 2 only in tick 0; key 3 twice in
    # tick 1 (latest wins via ts; rid is the tiebreak column)
    rticks = [
        [(1, t(0), 10.0, 1), (2, t(5), 20.0, 2)],
        [(1, t(60), 11.0, 3), (3, t(61), 30.0, 4), (3, t(62), 31.0, 5)],
        [(1, t(120), 12.0, 6)],
    ]
    ledger = os.path.join(str(tmp_path), "asledger")
    state = os.path.join(str(tmp_path), "asstate")
    ck = os.path.join(str(tmp_path), "asck")
    os.makedirs(ledger)

    for tk in rticks:
        spark.createDataFrame(tk, rschema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_asof_state(
            ledger, state, ck, ["key"], "ts", ["price"],
            tiebreak_col="rid",
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    # probe: all left rows at/after the head (key 1 equal-ts tie at
    # t(120) matches <=; key 2's latest is two ticks old; key 4 has no
    # dimension row at all)
    lschema = "key long, ts timestamp, qty long"
    left = spark.createDataFrame(
        [(1, t(120), 7), (1, t(200), 8), (2, t(130), 9), (4, t(140), 1)],
        lschema,
    )
    right_full = spark.createDataFrame(
        [r for tk in rticks for r in tk], rschema
    ).select("key", "ts", "price")

    for how in ("inner", "left"):
        got = sorted(
            tuple(r)
            for r in read_asof_probe(
                spark, state, left, ["key"], "ts", ["price"], how=how
            )
            .select("key", "ts", "qty", "right_price")
            .collect()
        )
        want = sorted(
            tuple(r)
            for r in asof_join(
                left, right_full, ["key"], "ts", ["price"], how=how
            )
            .select("key", "ts", "qty", "right_price")
            .collect()
        )
        assert got == want, how
    # the two-tick-old key actually matched
    assert any(k == 2 and p == 20.0 for (k, _ts, _q, p) in got)

    # fold order-insensitivity + double-apply idempotence: reversed
    # ticks with one tick applied twice land on the identical state
    st = None
    for tk in [rticks[2], rticks[0], rticks[0], rticks[1]]:
        st = asof_state_increment(
            st, spark.createDataFrame(tk, rschema),
            ["key"], "ts", ["price"], "rid",
        )
    rev = sorted(tuple(r) for r in st.collect())
    live = sorted(
        tuple(r)
        for r in spark.read.parquet(state)
        .drop("__bucket")
        .select("key", "ts", "price", "rid")
        .collect()
    )
    assert rev == live

    # historical probe raises: key 1's stored ts is t(120).
    # Default lazy mode raises IN-PLAN at consumption (the join is
    # evaluated once); eager mode raises ValueError at call time.
    old = spark.createDataFrame([(1, t(30), 5)], lschema)
    with _pytest.raises(Exception, match="event-time-current"):
        read_asof_probe(
            spark, state, old, ["key"], "ts", ["price"]
        ).collect()
    with _pytest.raises(ValueError, match="event-time-current"):
        read_asof_probe(
            spark, state, old, ["key"], "ts", ["price"],
            validate="eager",
        )


def test_mmr_from_semdedup_store(spark, tmp_path):
    """r15 staged: MMR diversified top-k served from SemDeDup-store
    state rows — the pool stage must equal the ANN read's scoring
    (same expression, same half-up, same order), the greedy walk must
    match an INDEPENDENT python replay of the MMR rule (first pick =
    pure relevance; lam·rel − (1−lam)·max-sim; ties → ascending id),
    and the nprobe read must only surface rows from probed clusters."""
    import math

    from kamu_engine_datafusion_spark.operators.clustering import (
        semdedup_state_rows,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        _bucket_of,
        ann_probe_clusters,
        ann_topk_from_state_rows,
        mmr_from_state_rows,
        read_maintained_mmr,
    )

    def vec(i):
        return [math.cos(i * 0.9), math.sin(i * 0.9)]

    schema = "vec_id long, embedding array<double>"
    emb = spark.createDataFrame([(i, vec(i)) for i in range(14)], schema)
    cents = [
        [int(math.floor(v * 10_000 + 0.5)) for v in vec(0)],
        [int(math.floor(v * 10_000 + 0.5)) for v in vec(3)],
    ]
    state = semdedup_state_rows(emb, cents, "vec_id", "embedding")
    qvec = vec(1)

    got = [
        tuple(r)
        for r in mmr_from_state_rows(
            state, qvec, k=4, pool=8, lam=0.7
        ).collect()
    ]

    # independent replay from the raw state rows
    rows = {
        r["vec_id"]: ([int(x) for x in r["q2"]], int(r["n2"]))
        for r in state.collect()
    }
    qq = [int(math.floor(v * 1000 + 0.5)) for v in qvec]
    qn2 = sum(v * v for v in qq)

    def r6(x):
        return math.floor(x * 1e6 + 0.5) / 1e6

    rel = {
        i: r6(
            sum(a * b for a, b in zip(q2, qq))
            / math.sqrt(float(n2) * qn2)
        )
        for i, (q2, n2) in rows.items()
    }
    pool = sorted(rows, key=lambda i: (-rel[i], i))[:8]

    def sim(a, b):
        (qa, na), (qb, nb) = rows[a], rows[b]
        return r6(
            sum(x * y for x, y in zip(qa, qb))
            / math.sqrt(float(na) * float(nb))
        )

    sel, want = [], []
    while len(sel) < 4:
        best = None
        for i in pool:
            if i in sel:
                continue
            s = (
                rel[i]
                if not sel
                else 0.7 * rel[i] - 0.3 * max(sim(i, j) for j in sel)
            )
            if best is None or s > best[0] or (
                s == best[0] and i < best[1]
            ):
                best = (s, i)
        sel.append(best[1])
        want.append((len(sel), best[1], rel[best[1]], r6(best[0])))
    assert got == want

    # the pool stage IS the ANN read's scoring
    ann = [
        (r["vec_id"], r["cosine"])
        for r in ann_topk_from_state_rows(state, qvec, k=8).collect()
    ]
    assert ann == [(i, rel[i]) for i in pool]

    # nprobe pruning via the bucketed store: only probed clusters
    store = os.path.join(str(tmp_path), "mmrstore")
    (
        state.withColumn("__bucket", _bucket_of(["cluster"], 8))
        .repartition(2, "__bucket")
        .write.partitionBy("__bucket")
        .mode("overwrite")
        .parquet(store)
    )
    probed = ann_probe_clusters(cents, qvec, nprobe=1)
    pruned = [
        tuple(r)
        for r in read_maintained_mmr(
            spark, store, cents, qvec, k=4, pool=8, nprobe=1
        ).collect()
    ]
    in_cluster = {
        r["vec_id"]
        for r in state.filter(F.col("cluster").isin(probed)).collect()
    }
    assert pruned and all(i in in_cluster for (_rk, i, _r, _m) in pruned)


def test_maintained_pair_counts_and_collocations(spark, tmp_path):
    """r15 staged: co-occurrence pair counts folded tick by tick must
    equal the batch pair_counts of the whole ledger, and the PMI
    collocation ranking read from the two maintained count frames
    (pairs + unigrams) must equal the batch collocations operator
    ROW-FOR-ROW — same N/B totals, same float tree, same cut."""
    from kamu_engine_datafusion_spark.operators.text import (
        collocations,
        collocations_from_counts,
        pair_counts,
        term_counts,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_pair_counts,
        maintained_term_counts,
        read_maintained_state,
    )

    docs = [
        (0, "big data big data pipeline"),
        (1, "big data stream engine"),
        (2, "stream engine big data"),
        (3, "data pipeline stream engine big data"),
        (4, "unrelated words entirely here"),
    ]
    schema = "doc_id long, text string"
    ledger = os.path.join(str(tmp_path), "pcledger")
    pstate = os.path.join(str(tmp_path), "pcstate")
    pck = os.path.join(str(tmp_path), "pcck")
    tstate = os.path.join(str(tmp_path), "pctstate")
    tck = os.path.join(str(tmp_path), "pctck")
    os.makedirs(ledger)
    for tk in (docs[0:2], docs[2:4], docs[4:5]):
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_pair_counts(
            ledger, pstate, pck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()
        maintained_term_counts(
            ledger, tstate, tck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    full = spark.createDataFrame(docs, schema)
    want_pairs = sorted(tuple(r) for r in pair_counts(full).collect())
    got_pairs = sorted(
        tuple(r) for r in read_maintained_state(spark, pstate).collect()
    )
    assert got_pairs == want_pairs

    got = [
        tuple(r)
        for r in collocations_from_counts(
            read_maintained_state(spark, pstate),
            read_maintained_state(spark, tstate),
            min_count=2, top_k=5,
        ).collect()
    ]
    want = [
        tuple(r)
        for r in collocations(full, min_count=2, top_k=5).collect()
    ]
    assert got == want and len(got) > 0


def test_maintained_ngram_set_novelty(spark, tmp_path):
    """r15 staged: the maintained distinct reference-bigram set folded
    tick by tick must equal the distinct grams of the whole reference
    ledger (appends are new-to-state only), and novelty scored
    against the state must equal the batch ngram_novelty against the
    full reference ROW-FOR-ROW — including a doc with < n tokens
    (novelty 1.0 by convention) and with-multiplicity counting. The
    module-level increment applied in reverse order lands on the
    identical set (union is a semilattice)."""
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        ngram_novelty,
        ngram_set_increment,
        novelty_against_ngrams,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_ngram_set,
        read_maintained_state,
    )

    ref_ticks = [
        [(100, "the quick brown fox jumps")],
        [(101, "brown fox likes data"), (102, "the quick brown fox")],
        [(103, "streams of data flow fast")],
    ]
    corpus = [
        (0, "the quick brown fox jumps high"),  # mostly known
        (1, "entirely novel content right here"),  # fully novel
        (2, "data flow data flow data flow"),  # repeated known pair
        (3, "single"),  # < 2 tokens -> novelty 1.0
    ]
    schema = "doc_id long, text string"
    ledger = os.path.join(str(tmp_path), "ngledger")
    state = os.path.join(str(tmp_path), "ngstate")
    ck = os.path.join(str(tmp_path), "ngck")
    os.makedirs(ledger)
    for tk in ref_ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_ngram_set(
            ledger, state, ck,
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    full_ref = spark.createDataFrame(
        [r for t in ref_ticks for r in t], schema
    )
    want_set = sorted(
        r[0]
        for r in ngram_set_increment(None, full_ref).collect()
    )
    got_set = sorted(
        r[0] for r in read_maintained_state(spark, state).collect()
    )
    assert got_set == want_set

    cdf = spark.createDataFrame(corpus, schema)
    got = sorted(
        tuple(r)
        for r in novelty_against_ngrams(
            cdf, read_maintained_state(spark, state)
        ).collect()
    )
    want = sorted(
        tuple(r) for r in ngram_novelty(cdf, full_ref).collect()
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[3][3] == 1.0 and by_id[1][3] == 1.0

    # reverse-order module-level fold lands on the identical set
    st = None
    for tk in reversed(ref_ticks):
        inc = ngram_set_increment(
            st, spark.createDataFrame(tk, schema)
        )
        st = inc if st is None else st.unionByName(inc)
        st = st.localCheckpoint(eager=True)
    assert sorted(r[0] for r in st.collect()) == want_set


def test_maintained_moments_zscore(spark, tmp_path):
    """r15 staged: fixed-point per-group moments folded tick by tick
    must equal the batch moment_counts of the whole ledger BIT-EXACTLY
    (integer sums — no float summation-order noise), and the z-score
    serving read must match an independent python replay of the
    defined rule (quantize half-up, mu = s1/n, var = (s2 − s1²/n)/
    (n−1) in double, half-up 6dp, NULL for singleton/zero-variance
    groups, outlier flag at |z| > 2 with NULL ⇒ false). NULL values
    drop from the moments like standardize's avg."""
    import math

    from kamu_engine_datafusion_spark.operators.profile import (
        moment_counts,
        zscore_from_moments,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_moments,
        read_maintained_state,
    )

    rows = [
        ("a", 1.25), ("a", 2.5), ("a", 3.75), ("a", None), ("a", 100.0),
        ("b", 7.0),                      # singleton -> NULL z
        ("c", 5.0), ("c", 5.0),          # zero variance -> NULL z
        ("d", -3.3), ("d", 0.0), ("d", 9.9),
    ]
    schema = "grp string, x double"
    ledger = os.path.join(str(tmp_path), "moledger")
    state = os.path.join(str(tmp_path), "mostate")
    ck = os.path.join(str(tmp_path), "mock")
    os.makedirs(ledger)
    for tk in (rows[0:4], rows[4:8], rows[8:]):
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_moments(
            ledger, state, ck, "x", ["grp"],
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    full = spark.createDataFrame(rows, schema)
    want_m = sorted(
        tuple(r) for r in moment_counts(full, "x", ["grp"]).collect()
    )
    got_m = sorted(
        tuple(r) for r in read_maintained_state(spark, state).collect()
    )
    assert got_m == want_m

    probe = [("a", 2.0), ("a", 50.0), ("b", 7.0), ("c", 5.0), ("d", 1.1)]
    got = sorted(
        tuple(r)
        for r in zscore_from_moments(
            spark.createDataFrame(probe, schema),
            read_maintained_state(spark, state),
            "x", ["grp"], outlier_z=2.0,
        ).collect()
    )

    # independent replay
    m = {g: (n, s1, s2) for (g, n, s1, s2) in want_m}

    def replay(g, x):
        n, s1, s2 = m[g]
        q = math.floor(x * 1e6 + 0.5)
        if n < 2:
            return None
        var = (s2 - s1 * s1 / n) / (n - 1.0)
        if var <= 0:
            return None
        z = (q - s1 / n) / math.sqrt(var)
        return math.floor(z * 1e6 + 0.5) / 1e6

    want = sorted(
        (g, x, replay(g, x),
         (replay(g, x) is not None and abs(replay(g, x)) > 2.0))
        for (g, x) in probe
    )
    assert got == want
    by = {(g, x): z for (g, x, z, _o) in got}
    assert by[("b", 7.0)] is None and by[("c", 5.0)] is None
    assert by[("a", 50.0)] is not None


def test_maintained_group_counts_temperature_mix(spark, tmp_path):
    """r15 staged: per-stratum counts folded tick by tick must equal
    the batch counts of the whole ledger, and temperature-sampling
    cuts read from the state + applied via sample_with_cuts must
    reproduce the batch temperature_sample of the same corpus
    ROW-FOR-ROW (same alpha/target/salt/hash, same 6dp-round cut,
    same 100% cap for an under-resourced stratum)."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        sample_with_cuts,
        temperature_cuts_from_counts,
        temperature_sample,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_group_counts,
        read_maintained_state,
    )

    rows = [(i, "en" if i % 10 < 7 else ("de" if i % 10 < 9 else "yo"))
            for i in range(300)]
    schema = "doc_id long, lang string"
    ledger = os.path.join(str(tmp_path), "gcledger")
    state = os.path.join(str(tmp_path), "gcstate")
    ck = os.path.join(str(tmp_path), "gcck")
    os.makedirs(ledger)
    for tk in (rows[0:100], rows[100:220], rows[220:]):
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_group_counts(
            ledger, state, ck, ["lang"],
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    full = spark.createDataFrame(rows, schema)
    want_counts = sorted(
        tuple(r)
        for r in full.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    got_counts = sorted(
        tuple(r) for r in read_maintained_state(spark, state).collect()
    )
    assert got_counts == want_counts

    cuts = temperature_cuts_from_counts(
        read_maintained_state(spark, state), "lang",
        alpha=0.5, target_fraction=0.4,
    )
    got = sorted(
        tuple(r)
        for r in sample_with_cuts(full, cuts, "doc_id", "lang")
        .select("doc_id", "lang")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in temperature_sample(
            full, "doc_id", "lang", alpha=0.5, target_fraction=0.4
        )
        .select("doc_id", "lang")
        .collect()
    )
    assert got == want and len(got) > 0
    # the tiny stratum is upsampled relative to its share (temperature
    # flattening), and never past 100%
    kept = {}
    tot = {}
    for (_i, lang) in rows:
        tot[lang] = tot.get(lang, 0) + 1
    for (_i, lang) in got:
        kept[lang] = kept.get(lang, 0) + 1
    assert kept.get("yo", 0) <= tot["yo"]
    assert kept["yo"] / tot["yo"] > kept["en"] / tot["en"]


def test_maintained_cap_equals_batch(spark, tmp_path):
    """r15 staged: the per-group cap state folded tick by tick must
    equal the batch cap_per_group of the whole ledger ROW-FOR-ROW —
    including a later tick EVICTING a stored survivor whose hash key
    is larger (the documented rewrite semantic), a group under its
    cap, and disjoint ticks folded in reverse order landing on the
    identical state."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        cap_per_group,
        cap_state_increment,
    )
    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_cap,
        read_maintained_state,
    )

    rows = [(i, "s" + str(i % 3)) for i in range(60)] + [
        (100 + i, "rare") for i in range(2)
    ]
    schema = "doc_id long, source string"
    ledger = os.path.join(str(tmp_path), "capledger")
    state = os.path.join(str(tmp_path), "capstate")
    ck = os.path.join(str(tmp_path), "capck")
    os.makedirs(ledger)
    ticks = (rows[0:20], rows[20:45], rows[45:])
    for tk in ticks:
        spark.createDataFrame(tk, schema).coalesce(1).write.mode(
            "append"
        ).parquet(ledger)
        maintained_cap(
            ledger, state, ck, "doc_id", "source", cap=5,
            hash_fn="poly",
            schema=spark.read.parquet(ledger).schema, spark=spark,
        ).awaitTermination()

    full = spark.createDataFrame(rows, schema)
    want = sorted(
        tuple(r)
        for r in cap_per_group(
            full, "doc_id", "source", cap=5, hash_fn="poly"
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in read_maintained_state(spark, state)
        .select("doc_id", "source")
        .collect()
    )
    assert got == want
    # under-cap group kept whole; capped groups at exactly 5
    import collections

    per = collections.Counter(s for (_i, s) in got)
    assert per["rare"] == 2 and all(per["s" + str(j)] == 5 for j in range(3))
    # eviction actually happened: some tick-0 survivor is gone
    tick0_state = {
        tuple(r)
        for r in cap_per_group(
            spark.createDataFrame(ticks[0], schema),
            "doc_id", "source", cap=5, hash_fn="poly",
        ).collect()
    }
    assert not tick0_state.issubset(set(got))

    # reverse-order module-level fold lands on the identical state
    st = None
    for tk in reversed(ticks):
        st = cap_state_increment(
            st, spark.createDataFrame(tk, schema),
            "doc_id", "source", 5, hash_fn="poly",
        ).localCheckpoint(eager=True)
    assert sorted(tuple(r) for r in st.collect()) == want


def test_mmr_from_state_rows_string_ids(spark):
    """r16 advice fix: the MMR serving read derives its result-schema
    id type from the store (string doc ids work like longs —
    ann_topk_from_state_rows never restricted the type; the walk
    itself is id-type-agnostic). Ranks, ties, and scores follow the
    same greedy rule, with argmax ties breaking to the ASCENDING id."""
    from kamu_engine_datafusion_spark.streaming.structured import (
        mmr_from_state_rows,
    )

    # q2 = scaled vectors (sim_scale=1000), n2 = |q2|²
    def row(doc, vec):
        q2 = [int(x * 1000) for x in vec]
        return (doc, 0, q2, sum(v * v for v in q2))

    state = spark.createDataFrame(
        [
            row("docA", [1.0, 0.0]),
            row("docB", [0.99, 0.14]),   # near-dup of docA
            row("docC", [0.3, 0.95]),    # diverse, modest relevance
        ],
        "vec_id string, cluster long, q2 array<bigint>, n2 bigint",
    )
    out = mmr_from_state_rows(
        state, [1.0, 0.0], k=2, pool=3, lam=0.3
    ).collect()
    assert [f.dataType.simpleString() for f in
            mmr_from_state_rows(
                state, [1.0, 0.0], k=1, pool=3
            ).schema.fields] == ["bigint", "string", "double", "double"]
    got = [(r["rank"], r["vec_id"]) for r in out]
    # first pick = pure relevance (docA); second = diversity (at
    # lam=0.3 the near-dup docB's max-sim penalty outweighs its
    # relevance edge, so docC wins the second slot)
    assert got == [(1, "docA"), (2, "docC")]


def test_asof_probe_lazy_guard_on_every_right_column(spark):
    """r17 advice fix: the lazy raise_error guard must survive
    per-column projection pruning — a consumer selecting ONLY a
    non-first right_<c> still hits the guard on a historical probe
    (previously only right_<first> was guarded, so that consumer
    silently read potentially-wrong values). Also: empty
    right_value_cols raises ValueError up front, and a clean probe
    returns every right column unmodified."""
    import pytest as _pytest

    from kamu_engine_datafusion_spark.operators.asof import (
        asof_probe_from_state,
    )

    state = spark.createDataFrame(
        [(1, 100, 9.5, "a")], "key long, ts long, price double, tag string"
    )
    old = spark.createDataFrame([(1, 30)], "key long, ts long")

    # selecting ONLY the second right column must still raise
    probed = asof_probe_from_state(
        old, state, ["key"], "ts", ["price", "tag"]
    )
    with _pytest.raises(Exception, match="event-time-current"):
        probed.select("right_tag").collect()
    with _pytest.raises(Exception, match="event-time-current"):
        probed.select("right_price").collect()

    # a current probe passes with both columns intact
    cur = spark.createDataFrame([(1, 200)], "key long, ts long")
    rows = asof_probe_from_state(
        cur, state, ["key"], "ts", ["price", "tag"]
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 200, 9.5, "a")]

    with _pytest.raises(ValueError, match="non-empty"):
        asof_probe_from_state(old, state, ["key"], "ts", [])
