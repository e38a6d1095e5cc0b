"""Structured Streaming over ODF ledgers: maintained state.

The ODF parity layer needs only incremental batch (see
``streaming/incremental.py``). This module keeps state continuously:
each ``maintained_*`` fold keeps a state directory equal to a batch
operator over the whole ledger, at a per-tick cost of
O(increment + touched state).

- :func:`fold_stream` is their one driver: it starts the availableNow
  file stream over the ledger directory, its schema read from a footer
  rather than by an inference job, and hands every micro-batch to the
  fold.
- A few private helpers own the hive-bucketed state layout described
  below: :func:`_bucket_dirs` and :func:`_bucket_files` list it,
  :func:`_read_buckets` reads the buckets a tick touches, and
  :func:`_commit_buckets` stages and commits them through the intent
  protocol, so a replayed micro-batch folds exactly once. The rewrite
  fold :func:`_fold_buckets` and the append fold
  :func:`_fold_buckets_append` differ only in the intent they commit;
  :func:`_fold_two_roots` runs a fold whose step also feeds a sibling
  root.
- The merge laws live in ``operators/``: integer counters fold with
  ``operators.changelog.sum_merge``, and sketches, samples, snapshots
  and dedup indexes with their operator's own merge. The registry's
  multi-tick keys call the same laws.
- Folds: view (signed changelog aggregates), snapshot, distinct,
  countmin, centroid_stats, lm_counts, activity, funnel, debounce,
  transitions, sessions, asof_state, intervals, postings,
  quality_rates, term_counts, cap, group_counts, pair_counts,
  ngram_set, moments, dsir_stats, quantile_sketch, kmv, histogram,
  corpus_card, weighted_sample, components, term_stats, phash_index,
  minhash_index, semdedup_index, bloom.
- ``read_*`` functions serve the live views; :func:`compact_state` and
  :func:`compact_state_if_needed` bound the files per bucket between
  ticks.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kamu_engine_datafusion_spark.operators.changelog import sum_merge


def fold_stream(
    spark: SparkSession | None,
    ledger_dir: str,
    checkpoint_dir: str,
    fold,
    schema: T.StructType | None = None,
):
    """Start the availableNow query that runs ``fold(batch_df,
    batch_id)`` on every micro-batch of the ledger directory's part
    files — the one driver behind every ``maintained_*`` fold. Returns
    the started ``StreamingQuery``.

    A file stream needs its schema pinned. Without ``schema`` it comes
    from :func:`~kamu_engine_datafusion_spark.sources.ledger.
    read_ledger_schema`, which reads the footer Spark's directory
    inference would read, so starting a fold runs no inference job."""
    from kamu_engine_datafusion_spark.sources.ledger import read_ledger_schema

    spark = spark or SparkSession.getActiveSession()
    stream = spark.readStream.schema(
        schema or read_ledger_schema(spark, ledger_dir)
    ).parquet(ledger_dir)
    writer = stream.writeStream.foreachBatch(fold).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


#: Marker file carrying the last-folded micro-batch id INSIDE the
#: state directory (underscore prefix → invisible to parquet readers),
#: rewritten atomically after each tick's buckets are applied.
_BATCH_MARKER = "_folded_batch_id"


def _last_folded_batch(state_dir: str) -> int:
    """The id of the last micro-batch folded into ``state_dir``, −1 when
    nothing has been folded yet. A marker that exists but does not hold
    a batch id raises: reading it as "nothing folded" would fold a
    replayed batch a second time."""
    import os

    path = os.path.join(state_dir, _BATCH_MARKER)
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return -1
    try:
        return int(text.strip())
    except ValueError:
        raise ValueError(
            f"fold marker {path} holds {text!r}, not a batch id"
        ) from None


# ---------------------------------------------------------------------------
# Bucketed maintained state
#
# State roots are hive-partitioned by a stable key bucket
# (``__bucket = pmod(xxhash64(keys…), N)``) and a tick rewrites ONLY the
# buckets its increment touches — the O(increment) claim made physical:
# an untouched bucket's parquet files are not read, not rewritten, not
# even re-linked (byte-identity pinned by pytest). Rewriting the whole
# state every tick would make a corpus-keyed snapshot O(total keys) per
# tick through one writer.
#
# Crash safety (exactly-once under foreachBatch's at-least-once replay):
#   1. touched buckets are staged under ``state.next/__bucket=i/``;
#   2. an ``_intent`` file (batch id + per-bucket apply plan) is written
#      only after ALL staging parquet writes complete — the commit point;
#   3. buckets are applied one ``os.replace`` each (an applied bucket's
#      staging dir vanishes, so re-apply skips it), empty merge results
#      remove the state bucket (idempotent rmtree);
#   4. the root ``_folded_batch_id`` marker is swapped in atomically
#      (tmp + os.replace), then the staging dir is dropped.
# Recovery (run before every fold): an ``_intent`` means the fold had
# fully materialized — re-apply idempotently and finish; staging without
# ``_intent`` is an incomplete write the replay simply redoes. A marker
# ≥ the delivered batch id means the batch is already folded — skip.
# Single-writer discipline assumed, like the ledger sink.
# ---------------------------------------------------------------------------

#: Commit-point file inside the staging dir: JSON {batch_id, apply, drop},
#: plus the files to move in (``append``) for an append fold.
_INTENT = "_intent"

#: Hive partition column carrying the key bucket. The ``__`` prefix is
#: safe: Spark's file index hides ``_``/``.``-prefixed paths UNLESS the
#: name contains ``=``, and a partition directory (``__bucket=3``)
#: always does — so the dirs stay visible to partition discovery while
#: the prefix keeps the column out of user-key namespace; readers of
#: the live view drop it.
_BUCKET_COL = "__bucket"

#: Sibling root of a maintained-components state dir holding the
#: node-bucketed ``(node, component)`` root index — same rows as the
#: component-bucketed state, hive-bucketed BY NODE so the per-tick
#: endpoint→root lookup partition-prunes instead of scanning state.
_NODE_IDX_SUFFIX = ".nodeidx"


def _bucket_of(key_cols: list[str], n: int):
    return F.pmod(F.xxhash64(*key_cols), F.lit(n)).cast("int")


def _write_root_marker(state_dir: str, batch_id: int) -> None:
    """Atomic marker update on the live state root (tmp + rename); the
    root stays in place across ticks."""
    import os

    tmp = os.path.join(state_dir, _BATCH_MARKER + ".tmp")
    with open(tmp, "w") as f:
        f.write(str(batch_id))
    os.replace(tmp, os.path.join(state_dir, _BATCH_MARKER))


def _stage_dir(state_dir: str) -> str:
    return state_dir + ".next"


def _write_intent(
    state_dir: str,
    batch_id: int,
    apply: list[int],
    drop: list[int],
    append: list[list[str]] | None = None,
) -> None:
    import json
    import os

    stage = _stage_dir(state_dir)
    tmp = os.path.join(stage, _INTENT + ".tmp")
    intent = {"batch_id": batch_id, "apply": apply, "drop": drop}
    if append:
        intent["append"] = append
    with open(tmp, "w") as f:
        f.write(json.dumps(intent))
    os.replace(tmp, os.path.join(stage, _INTENT))


def _apply_intent(state_dir: str) -> None:
    """Idempotently apply a committed staging dir to the live root.

    A rewrite fold's intent names whole buckets to move in (``apply``)
    and to remove (``drop``); an append fold's names files to move into
    the live bucket dirs (``append``: ``[staged, live]`` relative
    paths). Safe to re-run from any crash point: an already-applied
    bucket dir or file no longer exists in staging (``os.replace``
    moved it) so it is skipped, destination names are deterministic so
    a re-run cannot double-append, and ``drop`` buckets are removed
    with an idempotent rmtree; the marker rewrite and staging cleanup
    are last.
    """
    import json
    import os
    import shutil

    stage = _stage_dir(state_dir)
    intent_path = os.path.join(stage, _INTENT)
    if not os.path.isfile(intent_path):
        return
    with open(intent_path) as f:
        intent = json.loads(f.read())
    os.makedirs(state_dir, exist_ok=True)
    for src_rel, dst_rel in intent.get("append", []):
        src = os.path.join(stage, src_rel)
        dst = os.path.join(state_dir, dst_rel)
        if os.path.isfile(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.replace(src, dst)
    for b in intent.get("apply", []):
        src = os.path.join(stage, f"{_BUCKET_COL}={b}")
        dst = os.path.join(state_dir, f"{_BUCKET_COL}={b}")
        if os.path.isdir(src):
            shutil.rmtree(dst, ignore_errors=True)
            os.replace(src, dst)
    for b in intent.get("drop", []):
        shutil.rmtree(
            os.path.join(state_dir, f"{_BUCKET_COL}={b}"), ignore_errors=True
        )
    _write_root_marker(state_dir, intent["batch_id"])
    shutil.rmtree(stage, ignore_errors=True)


def _bucket_dirs(root: str) -> list[int]:
    """The buckets ``root`` holds a directory for, sorted; empty when
    ``root`` does not exist."""
    import os

    if not os.path.isdir(root):
        return []
    prefix = f"{_BUCKET_COL}="
    return sorted(
        int(n[len(prefix):])
        for n in os.listdir(root)
        if n.startswith(prefix) and os.path.isdir(os.path.join(root, n))
    )


def _bucket_files(root: str, bucket: int) -> list[str]:
    """The parquet files Spark lists in ``bucket``'s directory under
    ``root``, sorted by name; empty when that directory does not
    exist."""
    import os

    from kamu_engine_datafusion_spark.sources.ledger import _listed_by_spark

    d = os.path.join(root, f"{_BUCKET_COL}={bucket}")
    if not os.path.isdir(d):
        return []
    return [
        os.path.join(d, n)
        for n in sorted(os.listdir(d))
        if n.endswith(".parquet") and _listed_by_spark(n)
    ]


def _read_buckets(
    spark: SparkSession, root: str, buckets: list[int]
) -> DataFrame | None:
    """The stored rows of ``buckets`` under ``root``, without the bucket
    column; None when those buckets hold no file. It reads the files
    :func:`_bucket_files` lists through
    :func:`~kamu_engine_datafusion_spark.sources.ledger.read_parquet`,
    so other buckets' files are never read and a warm schema costs no
    job, where a read of the partitioned root runs a listing and
    inference job on every call."""
    from kamu_engine_datafusion_spark.sources.ledger import read_parquet

    files = [f for b in buckets for f in _bucket_files(root, b)]
    return read_parquet(spark, files) if files else None


def _touched_state(
    batch_df: DataFrame,
    state_dir: str,
    key_cols: list[str],
    n_buckets: int,
    read_state: bool = True,
):
    """``(touched, state_subset)``: the sorted state buckets
    ``batch_df``'s keys hash to, and the stored rows of exactly those
    buckets (:func:`_read_buckets`). ``state_subset`` is None when no
    touched bucket holds state or ``read_state`` is false."""
    touched = sorted(
        int(r[0])
        for r in batch_df.select(_bucket_of(key_cols, n_buckets))
        .distinct()
        .collect()
    )
    if not read_state:
        return touched, None
    return touched, _read_buckets(batch_df.sparkSession, state_dir, touched)


def _already_folded(batch_id: int, state_dir: str, *side_dirs: str) -> bool:
    """Heal every root's interrupted prior tick (side roots first), then
    whether ``state_dir``'s marker already covers ``batch_id``: a
    crash-replayed micro-batch, already folded into state."""
    for d in (*side_dirs, state_dir):
        _apply_intent(d)
    return _last_folded_batch(state_dir) >= batch_id


def _commit_buckets(
    rows: DataFrame,
    batch_id: int,
    state_dir: str,
    buckets: list[int],
    sort_cols: list[str] | None = None,
    append: bool = False,
) -> None:
    """Stage ``rows`` (carrying the bucket column, holding only
    ``buckets``) and commit them with ``batch_id`` as the marker: the
    one staged write of every fold and of :func:`compact_state`.

    Hashing on the bucket column puts each bucket's rows in exactly one
    task partition, so each bucket stages as one file. A rewrite intent
    replaces each staged bucket whole and drops the ``buckets`` that
    staged no rows; an append intent (``append``) moves each staged
    file into its live bucket under a deterministic
    ``b{batch_id}-{i}.parquet`` name, so a re-run cannot double-append.
    The intent file is the commit point; :func:`_apply_intent` applies
    it."""
    import os
    import shutil

    stage = _stage_dir(state_dir)
    shutil.rmtree(stage, ignore_errors=True)  # stale uncommitted staging
    staged = rows.repartition(len(buckets), _BUCKET_COL)
    if sort_cols:
        # sort within each bucket file so parquet row-group min/max
        # stats prune READS below the bucket level (the zone-map
        # lesson applied to maintained state: a query for a few keys
        # of a bucket skips the row groups holding everyone else's)
        staged = staged.sortWithinPartitions(_BUCKET_COL, *sort_cols)
    staged.write.partitionBy(_BUCKET_COL).mode("overwrite").parquet(stage)
    if append:
        moves = [
            [
                os.path.relpath(f, stage),
                os.path.join(f"{_BUCKET_COL}={b}", f"b{batch_id}-{i}.parquet"),
            ]
            for b in buckets
            for i, f in enumerate(_bucket_files(stage, b))
        ]
        _write_intent(state_dir, batch_id, [], [], moves)
    else:
        with_data = set(_bucket_dirs(stage))
        _write_intent(
            state_dir,
            batch_id,
            [b for b in buckets if b in with_data],
            [b for b in buckets if b not in with_data],
        )
    _apply_intent(state_dir)


def _commit_tick(
    rows_fn,
    batch_id: int,
    state_dir: str,
    key_cols: list[str],
    n_buckets: int,
    touched: list[int],
    sort_cols: list[str] | None = None,
    append: bool = False,
) -> None:
    """Commit one tick of a fold over the ``touched`` buckets: an empty
    increment only advances the marker; otherwise the rows
    ``rows_fn()`` returns are bucketed on ``key_cols`` and committed by
    :func:`_commit_buckets`."""
    import os

    if not touched:
        os.makedirs(state_dir, exist_ok=True)
        _write_root_marker(state_dir, batch_id)
        return
    _commit_buckets(
        rows_fn().withColumn(_BUCKET_COL, _bucket_of(key_cols, n_buckets)),
        batch_id,
        state_dir,
        touched,
        sort_cols,
        append,
    )


def _fold_buckets_append(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_cols: list[str],
    n_buckets: int,
    new_rows_fn,
    read_state: bool = True,
    sort_cols: list[str] | None = None,
) -> None:
    """APPEND-ONLY bucketed fold for purely-additive state (rows, once
    stored, never change — the pHash dedup index: survivors stay
    survivors forever). ``new_rows_fn(state_subset_or_None, batch_df)``
    returns ONLY the rows to add; they are staged per bucket and MOVED
    into the live bucket dirs as new files under deterministic
    ``b{batch_id}-{i}.parquet`` names — the write is O(increment), not
    O(touched state), which is what keeps a 10k-image tick flat
    against a ≥1M-fingerprint index (the rewrite fold's touched-bucket
    rewrite is O(state) once a uniform increment touches every
    bucket). It runs the steps of :func:`_fold_buckets` and differs
    only in the intent it commits. Exactly-once: replayed batches skip
    on the root marker; a crash mid-move re-applies idempotently
    (deterministic dst names, ``os.replace`` per file, already-moved
    sources are gone)."""
    if _already_folded(batch_id, state_dir):
        return
    touched, state_subset = _touched_state(
        batch_df, state_dir, key_cols, n_buckets, read_state
    )
    _commit_tick(
        lambda: new_rows_fn(state_subset, batch_df),
        batch_id, state_dir, key_cols, n_buckets, touched, sort_cols,
        append=True,
    )


def _fold_buckets(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_cols: list[str],
    n_buckets: int,
    merge_fn,
    sort_cols: list[str] | None = None,
) -> None:
    """Shared bucketed fold: stage merged touched buckets, commit, apply.

    ``merge_fn(state_subset_or_None, batch_df) -> DataFrame`` computes
    the replacement rows for the touched buckets only; its output must
    contain ``key_cols``. ``state_subset`` arrives WITHOUT the bucket
    column and covers exactly the touched buckets (read from their
    files only — untouched bucket files are never read).

    ``sort_cols`` sorts each rewritten bucket file (the append fold's
    zone-map option carried to the rewrite fold): because the rewrite
    replaces a touched bucket WHOLESALE every tick, a sorted layout
    here is self-maintaining — no compaction needed for the pruning to
    hold. Worth it ONLY for states read with LITERAL predicates on a
    within-bucket column (``maintained_term_stats``: BM25 reads filter
    ``term IN (...)`` + the scalars-key equality, which parquet
    row-group min/max stats prune under a term-sorted layout); the
    join-probed indexes (MinHash bands, pHash chunks, SemDeDup
    clusters) gain nothing — a join carries no static predicate for
    the scan to prune on (audited r15, SCALE.md)."""
    if _already_folded(batch_id, state_dir):
        return
    touched, state_subset = _touched_state(
        batch_df, state_dir, key_cols, n_buckets
    )
    _commit_tick(
        lambda: merge_fn(state_subset, batch_df),
        batch_id, state_dir, key_cols, n_buckets, touched, sort_cols,
    )


def _fold_two_roots(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_cols: list[str],
    n_buckets: int,
    step,
    side_dir: str,
    fold_side,
) -> None:
    """One tick of a fold whose operator step emits rows for a sibling
    root as well as its new state (debounce's kept log, transitions'
    pair counts, the sessions' closed log).

    ``step(state_subset_or_None, batch_df)`` returns ``(side_rows,
    new_state)`` and runs once per tick, on the touched buckets read
    once. ``fold_side(side_rows)`` folds the checkpointed side rows
    into ``side_dir`` FIRST, under that root's own marker; ``new_state``
    then replaces the touched buckets under the authoritative
    ``state_dir`` marker. A crash between the two replays the tick: the
    side fold skips on its marker, and the step recomputes from the
    unchanged old state and the same batch, so it is deterministic.
    ``new_state`` must carry ``key_cols``, the keys the touched buckets
    are taken from."""
    if _already_folded(batch_id, state_dir, side_dir):
        return
    touched, old_state = _touched_state(
        batch_df, state_dir, key_cols, n_buckets
    )
    side_rows, new_state = step(old_state, batch_df)
    fold_side(side_rows.localCheckpoint(eager=True))
    _commit_tick(
        lambda: new_state, batch_id, state_dir, key_cols, n_buckets, touched
    )


def read_maintained_state(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The live view of a bucketed maintained state root (drops the
    internal bucket partition column)."""
    return spark.read.parquet(state_dir).drop(_BUCKET_COL)


def compact_state(
    spark: SparkSession,
    state_dir: str,
    max_files_per_bucket: int = 1,
    sort_cols: list[str] | None = None,
) -> dict:
    """Rewrite a bucketed maintained-state root's accumulated per-tick
    files into ``max_files_per_bucket`` (default one) per bucket —
    content-neutral maintenance for long-horizon state. The append
    fold (:func:`_fold_buckets_append`) adds one
    ``b{batch_id}-{i}.parquet`` file per touched bucket per tick —
    correct and O(increment) — so after ~10⁴ ticks a bucket dir holds
    ~10⁴ small files and every touched-bucket read pays the listing +
    open cost; rewrite folds also accumulate files across engine
    restarts. Run this BETWEEN ticks (single-writer discipline, same
    as the folds themselves — the ledger twin is
    ``sources.compact.compact_ledger``).

    Crash safety rides the fold protocol unchanged: pending intents
    are healed first, the compacted buckets are staged and committed
    by :func:`_commit_buckets`, the folds' staged write, and
    :func:`_apply_intent` promotes each bucket with one atomic
    ``os.replace``. The root ``_folded_batch_id`` marker is written
    back with its CURRENT value, so replay skipping and the next
    tick's fold see identical state — compaction is invisible to the
    protocol (pytest: fold → compact → fold → crash-replay).

    Returns ``{"buckets_compacted": n, "files_before": a,
    "files_after": b}``. Buckets already at or under
    ``max_files_per_bucket`` files are left byte-identical (their
    dirs are not staged, not rewritten, not re-linked)."""
    import shutil

    # heal any interrupted prior tick/compaction first — the same
    # entry discipline as the folds; whatever staging remains after
    # healing is uncommitted (intent-less) garbage from a crash before
    # the commit point and is discarded like the folds discard it
    _apply_intent(state_dir)
    shutil.rmtree(_stage_dir(state_dir), ignore_errors=True)
    buckets = _bucket_dirs(state_dir)
    files_before = {b: len(_bucket_files(state_dir, b)) for b in buckets}
    todo = [b for b in buckets if files_before[b] > max_files_per_bucket]
    if todo:
        # the root read keeps the bucket column, which the staged write
        # partitions by and which no key column can recompute here
        rows = spark.read.parquet(state_dir).filter(
            F.col(_BUCKET_COL).isin(todo)
        )
        # compaction is WHERE layout pays: per-tick files are small,
        # the compacted file is the big one — sorting it by the probe
        # key makes parquet row-group stats prune sub-bucket reads
        # (pass the fold's sort_cols, e.g. ["term"] for postings).
        # The marker value is preserved (content-neutral)
        _commit_buckets(
            rows, _last_folded_batch(state_dir), state_dir, todo, sort_cols
        )
    return {
        "buckets_compacted": len(todo),
        "files_before": sum(files_before.values()),
        "files_after": sum(len(_bucket_files(state_dir, b)) for b in buckets),
    }


def compact_state_if_needed(
    spark: SparkSession,
    state_dir: str,
    trigger_files_per_bucket: int = 64,
    max_files_per_bucket: int = 1,
    sort_cols: list[str] | None = None,
) -> dict | None:
    """The COMPACTION CADENCE: run :func:`compact_state` only when some
    bucket's file count crosses ``trigger_files_per_bucket`` — the
    between-ticks maintenance call a long-horizon deployment makes
    after every fold (append folds and the ``.closed`` session/debounce
    logs grow one file per touched bucket per tick; rewrite folds
    accumulate across engine restarts). Returns ``compact_state``'s
    stats dict when a compaction ran, else ``None`` (the cheap path: a
    directory listing, no Spark job, no files touched).

    Why a threshold instead of always-compact: compaction rewrites
    O(touched state), so running it every tick would turn the append
    fold's O(increment) write cost back into the rewrite fold's. At
    the default 64 the steady-state read pays at most 64 file opens
    per bucket (~one listing page) while compaction amortizes to once
    per 64 ticks; size it DOWN for read-heavy serving state (postings)
    and UP for write-heavy archival logs. Single-writer discipline —
    call it from the fold loop, never concurrently with a tick."""
    worst = max(
        (len(_bucket_files(state_dir, b)) for b in _bucket_dirs(state_dir)),
        default=0,
    )
    if worst <= trigger_files_per_bucket:
        return None
    return compact_state(
        spark, state_dir, max_files_per_bucket, sort_cols
    )


def maintained_view(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    sum_cols: dict[str, str] | None = None,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 16,
):
    """Continuously-maintained aggregate view over a retractable ledger
    stream: each micro-batch is reduced with
    ``operators.changelog.changelog_agg`` (signed op weights, ONE
    partial-aggregated exchange over the increment only) and folded
    into the stored view with ``merge_changelog_aggs`` — the stored
    state is group-cardinality rows, so a tick's cost is
    O(increment + |groups|), never O(history). Returns the started
    streaming query; the current view is ``parquet(state_dir)``.

    foreachBatch rather than Spark's own streaming aggregation because
    changelog semantics need the signed-weight reduction (a Retract row
    must SUBTRACT) — Spark's built-in stateful agg would count it as a
    plain row. Restart safety: EXACTLY-ONCE under crash-replay via the
    bucketed intent/apply protocol (see module comment above
    :func:`_fold_buckets`): state is hive-partitioned into
    ``state_buckets`` stable key buckets and a tick rewrites only the
    buckets its increment touches — per-tick cost O(increment +
    touched-bucket state), untouched bucket files stay byte-identical.
    The live view is :func:`read_maintained_state`.
    """
    from kamu_engine_datafusion_spark.operators.changelog import (
        changelog_agg,
        merge_changelog_aggs,
    )

    def _merge(state_subset, batch_df):
        inc = changelog_agg(
            batch_df, group_cols, sum_cols, keep_dead_groups=True
        )
        if state_subset is None:
            return inc.filter(F.col("n_live") != 0)
        return merge_changelog_aggs(state_subset, inc, group_cols)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df, batch_id, state_dir, group_cols, state_buckets, _merge
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_snapshot(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    primary_key: str | list[str],
    vocab=None,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 64,
):
    """Continuously-maintained SNAPSHOT over a retractable ledger
    stream: stored state is the latest record per primary key —
    INCLUDING dead keys (latest record a retract/correct-from), which
    must persist as tombstones so an older live row cannot resurrect a
    retracted key on a later tick. The live view is
    ``read.parquet(state_dir).filter(~op.isin(1, 2))`` minus system
    columns — exactly ``snapshot_of_ledger`` of the whole history, at
    O(increment + |keys|) per tick instead of O(history).

    Each tick unions the TOUCHED BUCKETS of stored state with the
    increment and keeps the max-offset record per key: one keyed
    shuffle whose input is the touched state slice + increment, never
    the ledger and never the untouched buckets — this is the case the
    bucketed protocol exists for (state keyed by document id at corpus
    scale: a tick folding 10k updates into 10B keys reads and rewrites
    ~touched/``state_buckets`` of the state, not all of it). Returns
    the started query (availableNow trigger); live view =
    :func:`read_maintained_state` filtered to non-retracted ops.
    """
    from kamu_engine_datafusion_spark.plans.types import DatasetVocabulary

    from kamu_engine_datafusion_spark.operators.snapshot import (
        latest_per_key,
    )

    vocab = vocab or DatasetVocabulary()
    keys = (
        [primary_key] if isinstance(primary_key, str) else list(primary_key)
    )

    def _merge(state_subset, batch_df):
        merged = batch_df
        if state_subset is not None:
            merged = state_subset.unionByName(batch_df)
        return latest_per_key(merged, keys, vocab.offset_column)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df, batch_id, state_dir, keys, state_buckets, _merge
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_distinct(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    distinct_col: str,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 16,
):
    """Continuously-maintained APPROX-DISTINCT counts per group over an
    append stream — the aggregate :func:`maintained_view` cannot carry
    (COUNT DISTINCT is not linear: a signed-weight fold can't tell a
    re-seen value from a new one). The standard scale answer is a
    MERGEABLE sketch: each micro-batch reduces to one HLL sketch per
    group (``hll_sketch_agg``), the stored state is one sketch per
    group (binary column), and the fold is ``hll_union_agg`` over
    state ∪ increment — per-tick cost O(increment + |groups|), state
    size |groups| × sketch bytes, error the usual HLL ~1-2%.
    Exactly-once under crash-replay via the bucketed intent/apply protocol.

    Retractions are NOT supported (sketches are insert-only — a
    retracted value cannot leave the sketch); feed the live/append
    stream. The current estimates are
    ``read_maintained_state(spark, state_dir).select(group_cols,
    hll_sketch_estimate("sketch"))``. State is bucketed like the other
    maintained folds: a tick unions the increment's sketches with the
    TOUCHED buckets' stored sketches only.
    """

    def _merge(state_subset, batch_df):
        inc = batch_df.groupBy(*group_cols).agg(
            F.hll_sketch_agg(distinct_col).alias("sketch")
        )
        if state_subset is None:
            return inc
        return (
            state_subset.unionByName(inc)
            .groupBy(*group_cols)
            .agg(F.hll_union_agg("sketch").alias("sketch"))
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df, batch_id, state_dir, group_cols, state_buckets, _merge
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_countmin(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 4,
):
    """Continuously-maintained Count-Min grid over an append stream —
    the frequency twin of :func:`maintained_distinct` (cardinality) and
    :func:`maintained_quantile_sketch` (quantiles). Counter addition is
    associative and commutative like register max, so each micro-batch
    reduces to its own ≤ depth·width-cell grid
    (``operators.sketches.cm_counters`` — partial counts bound the
    exchange) and the fold is cell-wise BIGINT addition with the stored
    grid: per-tick cost O(increment + grid), state size ≤ depth·width
    rows, estimates identical to the batch grid over the whole history
    (pytest-pinned bit-equal). Exactly-once under crash-replay via the
    bucketed intent/apply protocol.

    Retractions are NOT supported (counters are insert-only); feed the
    live/append stream. Current grid =
    :func:`read_maintained_state`; point estimates via
    ``operators.sketches.cm_lookup``.
    """
    from kamu_engine_datafusion_spark.operators.sketches import cm_counters

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the grid's own keys (i, bucket) don't exist on raw ledger
        # rows, so reduce the increment to its grid FIRST and bucket
        # the state on the grid key; with a 4×256 grid every tick
        # touches most cells, so the bucket count stays small.
        # NULL keys are dropped BEFORE counting (mirroring
        # verified_heavy_hitters): under hash_fn='poly' a NULL key
        # hashes to NULL buckets and falls out anyway, but Spark's
        # xxhash64(NULL) returns the seed — without this filter an
        # xxhash64 grid would count NULL-key rows into a real cell,
        # inflating n_total and contaminating one column of cells,
        # breaking the documented row-for-row equality between
        # heavy_hitters_from_grid and verified_heavy_hitters.
        _fold_buckets(
            cm_counters(
                batch_df.filter(F.col(key_col).isNotNull()),
                key_col, depth, width, seed, hash_fn,
            ),
            batch_id,
            state_dir,
            ["i", "bucket"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["i", "bucket"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_centroid_stats(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    id_col: str,
    vec_col: str,
    dim: int,
    scale: int = 10_000,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 1,
):
    """Continuously-maintained per-group embedding centroid statistics
    over an append stream (``operators/clustering.py::centroid_stats``)
    — the embedding-space leg of the maintained drift monitor: counts,
    per-dimension quantized sums, and summed squared norms are all
    ADDITIVE, so the per-tick fold is element-wise BIGINT addition
    (``zip_with`` on the sum arrays) and state after any ticks equals
    the batch stats of the whole ledger (pytest-pinned). The live
    pairwise shift matrix (``centroid_shift_from_stats`` over
    :func:`read_maintained_state`) then equals batch
    ``group_centroid_shift`` over all history while reading
    groups × (dim + 2) longs of metadata. State ≤ groups rows.
    Retractions unsupported; feed the append/live stream."""
    from kamu_engine_datafusion_spark.operators.clustering import (
        centroid_stats,
        centroid_stats_merge,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the group key exists only after the stats aggregate — reduce
        # the increment FIRST (the maintained_countmin pattern)
        _fold_buckets(
            centroid_stats(batch_df, group_col, id_col, vec_col, dim, scale),
            batch_id,
            state_dir,
            ["grp"],
            state_buckets,
            lambda state, inc: centroid_stats_merge(state, inc, dim),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_lm_counts(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained Stupid-Backoff n-gram model over an
    append REFERENCE stream (``operators/text.py::lm_ngram_counts``):
    unigram/bigram/trigram counts fold cell-wise (additive), so state
    after any ticks equals the batch counts of the whole reference
    ledger (pytest-pinned) and
    ``backoff_score_from_counts(tick, read_maintained_state(...))``
    scores each new crawl tick with a reference-consistent LM while
    tokenizing only the tick — the CCNet perplexity-filter shape at
    the maintained layer (the `maintained_term_stats`/BM25 device
    applied to LM scoring). State is vocab-/bigram-/trigram-sized,
    never corpus-sized. Retractions unsupported; feed the
    append/live stream."""
    from kamu_engine_datafusion_spark.operators.text import (
        lm_ngram_counts,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the n-gram key doesn't exist on raw ledger rows — reduce the
        # increment to its count rows FIRST (the maintained_countmin
        # pattern)
        _fold_buckets(
            lm_ngram_counts(batch_df, text_col),
            batch_id,
            state_dir,
            ["n", "w1", "w2", "w3"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["n", "w1", "w2", "w3"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_activity(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    bucket: str = "week",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained per-user ACTIVITY state over an append
    event stream (``operators/funnel.py::activity_increment`` /
    ``activity_merge``): cohort = min first-bucket, active buckets =
    set union — both IDEMPOTENT semilattice merges, so ticks may
    arrive in any order and even a replayed tick cannot corrupt state
    (the strongest replay class in the maintained layer; the marker
    skip is an optimization here, not a correctness requirement).
    The live retention matrix (``retention_from_activity`` over
    :func:`read_maintained_state`) equals batch
    ``retention_cohorts`` over the whole ledger row-for-row
    (pytest-pinned) while reading users × (span/bucket) metadata
    rows. State ≤ one row per user. Retractions unsupported."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        activity_increment,
        activity_merge,
    )

    def _merge(state_subset, inc):
        if state_subset is None:
            return inc
        return activity_merge(state_subset, inc)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the user key exists only after the activity aggregate —
        # reduce the increment FIRST (the maintained_countmin pattern)
        _fold_buckets(
            activity_increment(batch_df, user_col, ts_col, bucket),
            batch_id,
            state_dir,
            ["user_id"],
            state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_funnel(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    steps: list[str],
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    within_seconds: int | None = None,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained FUNNEL progress over an append event
    stream (``operators/funnel.py::funnel_fold_increment``): per-user
    greedy-walk accumulators are rewrite-fold state (one row per
    funnel-active user), ticks fold forward with the batch walk's own
    advance lambda, and the live per-step counts
    (:func:`read_maintained_funnel`) equal batch ``funnel_counts``
    over the whole ledger (pytest-pinned) — at 100 TB the batch walk
    re-sorts every user's history per report; a tick here pays one
    user-keyed aggregate over the tick plus the touched-bucket join.
    PRECONDITION: per-user event-time-ordered ticks (loud ValueError
    otherwise); same-microsecond ties split across ticks are the one
    documented divergence. Retractions unsupported."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        funnel_fold_increment,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # only funnel-relevant events touch state; key the buckets on
        # the USER column of the filtered increment
        inc = batch_df.filter(F.col(type_col).isin(steps))
        _fold_buckets(
            inc.withColumnRenamed(user_col, "user_id"),
            batch_id,
            state_dir,
            ["user_id"],
            state_buckets,
            lambda ss, b: funnel_fold_increment(
                ss, b, steps, "user_id", type_col, ts_col,
                within_seconds,
            ),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


#: Sibling root of a maintained-debounce state dir holding the
#: append-only kept-events log.
_KEPT_SUFFIX = ".kept"


def maintained_debounce(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    time_col: str = "ts",
    gap_seconds: float = 600.0,
    group_cols: list[str] | None = None,
    order_tiebreak: str = "event_id",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained burst DEBOUNCE over an append event
    stream (``operators/funnel.py::debounce_increment``): per-group
    last-raw-event rows are rewrite-fold state, surviving events
    append exactly-once to the ``state_dir + ".kept"`` log (a survivor
    never un-survives — the lag rule depends only on the previous RAW
    event, so ordered ticks partition the per-group sequence), and
    the kept log equals batch ``debounce_events`` over the whole
    ledger row-for-row (pytest-pinned). The telemetry-cleanup stage a
    100 TB ingest runs AT the ledger instead of re-debouncing history
    per consumer. Crash protocol (the sessions two-root sequencing):
    kept rows append FIRST under their own marker, the last-event
    rewrite lands second under the authoritative one.
    PRECONDITION: per-group event-time-ordered ticks (loud
    ValueError). Retractions unsupported.

    Long-horizon usage: the ``.kept`` log appends one file per
    touched bucket per tick forever — call
    ``compact_state_if_needed(spark, state_dir + ".kept")`` between
    ticks (the sessions-cadence discipline: a directory listing when
    under the trigger, a touched-bucket rewrite once crossed; markers
    untouched)."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        debounce_increment,
    )

    group_cols = group_cols or ["user_id", "event_type"]
    kept_dir = state_dir + _KEPT_SUFFIX

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # kept log FIRST (own marker), last-event rewrite SECOND
        _fold_two_roots(
            batch_df,
            batch_id,
            state_dir,
            group_cols,
            state_buckets,
            lambda last, b: debounce_increment(
                last, b, time_col, gap_seconds, group_cols, order_tiebreak
            ),
            kept_dir,
            lambda kept: _fold_buckets_append(
                kept, batch_id, kept_dir, group_cols, state_buckets,
                lambda s, d: d, read_state=False,
            ),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_debounce(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The live debounced stream of :func:`maintained_debounce`: the
    append-only kept-events log."""
    return read_maintained_state(spark, state_dir + _KEPT_SUFFIX)


#: Sibling root of a maintained-transitions state dir holding the
#: additive (from_type, to_type, n) pair counts.
_PAIRS_SUFFIX = ".pairs"


def maintained_transitions(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
    pair_buckets: int = 1,
):
    """Continuously-maintained first-order Markov TRANSITION counts
    over an append event stream (``operators/funnel.py::
    transitions_increment``) — the path-analysis leg of the
    maintained events family (sessions = when, retention = who comes
    back, funnel = how far, transitions = where they go): per-user
    last-event rows are rewrite-fold state (``state_dir``, the
    cross-tick boundary pair source), pair counts fold additively in
    the ``state_dir + ".pairs"`` sibling (|types|² rows), and the live
    matrix (:func:`read_maintained_transitions`) equals batch
    ``event_transitions`` over the whole ledger (pytest-pinned) —
    at 100 TB the ledger is never re-paired; a tick pays one
    user-keyed window over itself plus the touched-bucket join.

    PRECONDITION: per-user event-time-ordered ticks (loud ValueError);
    same-microsecond cross-tick ties order by arrival. Crash protocol
    (the sessions two-root sequencing): pair counts fold FIRST — they
    read the OLD last-event state and self-skip on their own marker —
    then the last-event rewrite lands under the authoritative marker;
    a crash between replays deterministically."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        transitions_increment,
    )

    pairs_dir = state_dir + _PAIRS_SUFFIX

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # pair counts FIRST (own marker), last-event rewrite SECOND. The
        # increment's output key is always "user_id", so normalize the
        # batch's user column first (bucket hashes are value-based —
        # renaming cannot move a user between buckets)
        _fold_two_roots(
            batch_df.withColumnRenamed(user_col, "user_id"),
            batch_id,
            state_dir,
            ["user_id"],
            state_buckets,
            lambda last, b: transitions_increment(
                last, b, "user_id", type_col, ts_col, order_tiebreak
            ),
            pairs_dir,
            lambda pair_inc: _fold_buckets(
                pair_inc, batch_id, pairs_dir, ["from_type", "to_type"],
                pair_buckets,
                lambda state, inc: sum_merge(
                    state, inc, ["from_type", "to_type"]
                ),
            ),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_transitions(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The live transition matrix of :func:`maintained_transitions`
    state (``operators/funnel.py::transitions_from_counts`` over the
    ``.pairs`` sibling)."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        transitions_from_counts,
    )

    return transitions_from_counts(
        read_maintained_state(spark, state_dir + _PAIRS_SUFFIX)
    )


def read_maintained_funnel(
    spark: SparkSession, state_dir: str, steps: list[str]
) -> DataFrame:
    """The live per-step funnel counts of :func:`maintained_funnel`
    state (``operators/funnel.py::funnel_from_state``)."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        funnel_from_state,
    )

    return funnel_from_state(
        read_maintained_state(spark, state_dir), steps
    )


def read_maintained_retention(
    spark: SparkSession, state_dir: str, bucket: str = "week"
) -> DataFrame:
    """The live cohort-retention matrix of
    :func:`maintained_activity` state
    (``operators/funnel.py::retention_from_activity``)."""
    from kamu_engine_datafusion_spark.operators.funnel import (
        retention_from_activity,
    )

    return retention_from_activity(
        read_maintained_state(spark, state_dir), bucket
    )


#: Sibling root of a maintained-sessions state dir holding the
#: append-only closed-sessions log.
_CLOSED_SUFFIX = ".closed"


def maintained_sessions(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    gap_sec: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained gap-based SESSIONIZATION over an append
    event stream (``operators/sessions.py::session_fold_increment``) —
    the stateful event-time operator of the maintained layer: per-user
    open sessions are rewrite-fold state (one row per active user,
    user-bucketed), closed sessions append to the ``state_dir +
    ".closed"`` log exactly once, and ``closed ∪ open``
    (:func:`read_maintained_sessions`) equals the batch lag+cumsum
    sessionizer over the whole ledger row-for-row (pytest-pinned) —
    at 100 TB the ledger is never re-windowed; a tick pays one
    (user)-keyed window over ``touched state ∪ tick``.

    PRECONDITION: ticks arrive in per-user event-time order (the
    append-ledger contract); the fold raises loudly otherwise.

    Crash protocol (the ``maintained_minhash_index`` two-root
    sequencing): the closed log appends FIRST under its own marker,
    the open-state rewrite lands SECOND under the authoritative
    marker. A crash between the two replays the tick: the closed
    append self-skips on its marker, and the state rewrite recomputes
    from the UNCHANGED old state + the same batch — deterministic,
    so the closed rows it would have emitted are exactly the ones
    already in the log.

    Long-horizon usage — the documented cadence: the ``.closed`` log
    APPENDS one file per touched bucket per tick forever, so a
    deployment calls ``compact_state_if_needed(spark, state_dir +
    ".closed")`` (and the same on ``state_dir`` across engine
    restarts) between ticks — a directory listing when under the
    trigger, a touched-bucket rewrite once any bucket crosses it;
    the marker/replay protocol is untouched either way
    (``tools/stress.py --only sessions_cadence`` demonstrates the
    loop: file counts stay bounded, ``closed ∪ open`` ≡ batch)::

        maintained_sessions(ledger, state, ck, ...).awaitTermination()
        compact_state_if_needed(spark, state + ".closed",
                                trigger_files_per_bucket=64)
    """
    from kamu_engine_datafusion_spark.operators.sessions import (
        session_fold_increment,
    )

    closed_dir = state_dir + _CLOSED_SUFFIX

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # closed log FIRST (own marker), open-state rewrite SECOND; the
        # increment keys both on "user_id", whatever the user column
        _fold_two_roots(
            batch_df.withColumnRenamed(user_col, "user_id"),
            batch_id,
            state_dir,
            ["user_id"],
            state_buckets,
            lambda state, b: session_fold_increment(
                state, b, gap_sec, "user_id", ts_col, id_col
            ),
            closed_dir,
            lambda closed: _fold_buckets_append(
                closed, batch_id, closed_dir, ["user_id"], state_buckets,
                lambda s, d: d, read_state=False,
            ),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_sessions(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """The live sessions view of :func:`maintained_sessions`:
    closed-log ∪ open-state in the batch sessionizer's frame
    (``operators/sessions.py::sessions_read``)."""
    from kamu_engine_datafusion_spark.operators.sessions import (
        sessions_read,
    )

    closed_dir = state_dir + _CLOSED_SUFFIX
    closed = None
    if _bucket_dirs(closed_dir):
        closed = read_maintained_state(spark, closed_dir)
    state = None
    if _bucket_dirs(state_dir):
        state = read_maintained_state(spark, state_dir)
    return sessions_read(closed, state)


def maintained_asof_state(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str,
    value_cols: list[str],
    tiebreak_col: str | None = None,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained AS-OF SERVING STATE over an append
    dimension stream (``operators/asof.py::asof_state_increment``):
    per-key latest right row, so a new fact tick enriches against the
    latest known dimension values via
    :func:`operators.asof.asof_probe_from_state` /
    :func:`read_asof_probe` WITHOUT the batch as-of's union + per-key
    sort over the whole dimension history. The merge (per-key max over
    ``(ts, tiebreak)``) is an idempotent semilattice — ticks in any
    order, double-apply-safe, the retention replay class — and after
    any ticks the state equals the per-key latest of the whole ledger
    (pytest-pinned ≡ the batch ``asof_join`` under the probe
    contract). Retractions unsupported; feed the append stream.

    Scale: per-tick cost O(tick ∪ touched-key state rows); state is
    keys-sized; probes are one equi-join against it."""
    from kamu_engine_datafusion_spark.operators.asof import (
        asof_state_increment,
    )

    sel = [*key_cols, ts_col, *value_cols] + (
        [tiebreak_col] if tiebreak_col else []
    )

    def _merge(state_subset, inc):
        return asof_state_increment(
            state_subset, inc, key_cols, ts_col, value_cols, tiebreak_col
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df.select(*sel),
            batch_id,
            state_dir,
            key_cols,
            state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_asof_probe(
    spark: SparkSession,
    state_dir: str,
    left: DataFrame,
    key_cols: list[str],
    ts_col: str,
    right_value_cols: list[str],
    how: str = "inner",
    validate: str = "lazy",
) -> DataFrame:
    """AS-OF enrich a fact frame against :func:`maintained_asof_state`
    state (``operators/asof.py::asof_probe_from_state`` over the live
    state view) — equals ``asof_join(left, right_history)`` under the
    event-time-current probe contract; raises on a historical probe
    (in-plan by default — ``validate="eager"`` for a call-time
    ``ValueError`` at the cost of a second join evaluation)."""
    from kamu_engine_datafusion_spark.operators.asof import (
        asof_probe_from_state,
    )

    return asof_probe_from_state(
        left,
        read_maintained_state(spark, state_dir),
        key_cols,
        ts_col,
        right_value_cols,
        how,
        validate=validate,
    )


def maintained_intervals(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    start_col: str = "start_us",
    end_col: str = "end_us",
    group_cols: list[str] | None = None,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained INTERVAL CONSOLIDATION over an append
    stream of raw spans (``operators/rangejoin.py::
    intervals_increment``) — the interval-algebra normalizer run AT
    the ledger (maintenance windows, activity spans, span-dedup
    output) instead of re-consolidated per consumer: state is one row
    per disjoint island per group, and after any ticks it equals the
    batch :func:`operators.rangejoin.merge_intervals` of the whole
    ledger row-for-row (pytest-pinned), island ids included.

    The strongest replay class in the maintained layer next to
    retention: the GEOMETRY fold is an idempotent set function (ticks
    in any order; even a double-applied tick cannot move an island
    boundary) — only the additive ``n_merged`` count column needs the
    marker skip for exactly-once. Live view =
    :func:`read_maintained_state`. Retractions unsupported (removing
    a span could split an island whose constituents were discarded);
    feed the append stream.

    Scale: per-tick cost O(tick ∪ touched-group islands) — one
    group-keyed shuffle; the consolidated state is geometry-bounded
    (a group's islands can only MERGE as spans accumulate), and the
    ledger is never re-read."""
    from kamu_engine_datafusion_spark.operators.rangejoin import (
        intervals_increment,
    )

    group_cols = group_cols or ["user_id"]

    def _merge(state_subset, inc):
        return intervals_increment(
            state_subset, inc, start_col, end_col, group_cols
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df.select(*group_cols, start_col, end_col),
            batch_id,
            state_dir,
            group_cols,
            state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_postings(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 16,
):
    """Continuously-maintained INVERTED INDEX over an append corpus
    stream (``operators/retrieval.py::postings_increment``): on an
    append ledger a doc id never re-appears, so postings rows are
    APPEND-ONLY state — the ``maintained_minhash_index`` protocol
    applied to retrieval: per-tick cost O(increment), existing
    postings never rewritten, exactly-once via the append-intent
    crash protocol. State is bucketed by TERM, so a query's read
    (:func:`read_maintained_bm25_topk`) opens only its own terms'
    buckets — the nprobe dial for text retrieval — and each staged
    file is SORTED by term, so parquet row-group min/max stats prune
    reads below the bucket level (measured: the sorted layout flips
    the 2M-doc selective query from losing to the corpus rescan to
    beating it). Pair with :func:`maintained_term_stats` (the
    corpus-scalars row feeds idf/avgdl). Run
    ``compact_state(spark, dir, sort_cols=["term"])`` between ticks
    at whatever cadence bounds the per-bucket file count — sorted
    compaction is where the layout pays most (the big file gets the
    prunable row groups). Retractions unsupported; feed the append
    stream."""
    from kamu_engine_datafusion_spark.operators.retrieval import (
        postings_increment,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets_append(
            postings_increment(batch_df, text_col, id_col),
            batch_id,
            state_dir,
            ["term"],
            state_buckets,
            lambda state_subset, inc: inc,
            read_state=False,
            sort_cols=["term"],
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_bm25_topk(
    spark: SparkSession,
    postings_dir: str,
    stats_dir: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    dp: int = 6,
    state_buckets: int = 16,
) -> DataFrame:
    """BM25 top-k served from :func:`maintained_postings` +
    :func:`maintained_term_stats` state — the retrieval read that
    NEVER touches a document: the postings read is partition-pruned to
    the query terms' buckets (term is the bucket key, so the probe
    list is computed driver-side exactly like
    ``read_maintained_ann_topk``'s cluster probe), df per term is the
    pruned postings-row count, and idf/avgdl come from the stats
    state's corpus-scalars row. Result ≡
    ``operators.retrieval.bm25_topk_from_postings`` over the full
    batch postings (pytest-pinned), which in turn scores ≡
    ``bm25_scores`` over the corpus. ``state_buckets`` must match the
    fold's (the ``read_maintained_heavy_hitters`` contract)."""
    from kamu_engine_datafusion_spark.operators.retrieval import (
        bm25_topk_from_postings,
    )

    terms = sorted(set(t.lower() for t in query_terms))
    buckets = sorted(
        {
            int(r[0])
            for r in spark.createDataFrame(
                [(t,) for t in terms], "term string"
            )
            .select(_bucket_of(["term"], state_buckets))
            .collect()
        }
    )
    postings = (
        spark.read.parquet(postings_dir)
        .filter(F.col(_BUCKET_COL).isin(buckets))  # partition pruning
        .drop(_BUCKET_COL)
    )
    stats = read_maintained_state(spark, stats_dir)
    return bm25_topk_from_postings(
        postings, stats, terms, k, k1, b, id_col, dp
    )


def maintained_quality_rates(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str = "source",
    text_col: str = "text",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 1,
):
    """Continuously-maintained per-source QUALITY-RATE monitor over an
    append corpus stream (``operators/text.py::quality_rule_counts``):
    Gopher rule-hit counters are additive, so the per-tick fold is
    cell-wise BIGINT addition and state after any ticks equals the
    batch counters of the whole ledger (pytest-pinned). The live read
    (``quality_rates_from_counts`` over :func:`read_maintained_state`)
    is the per-source quality dashboard — |groups| metadata rows, the
    corpus never re-scanned; a source whose pass rate drops
    tick-over-tick is a feed gone bad, caught at ingest. State ≤
    |groups| rows. Retractions unsupported; feed the append stream."""
    from kamu_engine_datafusion_spark.operators.text import (
        quality_rule_counts,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the group key exists only after the counters aggregate —
        # reduce the increment FIRST (the maintained_countmin pattern)
        _fold_buckets(
            quality_rule_counts(batch_df, group_col, text_col),
            batch_id,
            state_dir,
            ["grp"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["grp"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_term_counts(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained corpus TERM COUNTS over an append stream
    (``operators/text.py::term_counts`` — the wordcount frame): counts
    fold cell-wise, so state after any ticks equals the batch counts of
    the whole ledger (pytest-pinned) and the induced vocabulary
    (``vocabulary_from_counts`` over :func:`read_maintained_state`),
    OOV coverage (``oov_rate``), and unigram log-prob scoring all read
    vocab-sized state instead of re-exploding 100 TB of text — the
    tokenizer-vocabulary twin of ``maintained_term_stats`` (which
    keeps the BM25 df/avgdl statistics). State is |vocab| rows.
    Retractions unsupported; feed the append stream."""
    from kamu_engine_datafusion_spark.operators.text import term_counts

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            term_counts(batch_df, text_col),
            batch_id,
            state_dir,
            ["token"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["token"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_cap(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    group_col: str,
    cap: int,
    salt: int = 0,
    hash_fn: str = "xxhash64",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained PER-GROUP CAP over an append stream
    (``operators/sampling.py::cap_state_increment``): the
    RefinedWeb-style per-domain/per-source document cap kept live AT
    the ledger — state is the ≤ ``cap`` keyed-hash-smallest rows per
    group, the fold is the exact top-n merge law (disjoint ticks in
    any order; the marker carries exactly-once), and after any ticks
    the state equals the batch :func:`~kamu_engine_datafusion_spark.
    operators.sampling.cap_per_group` of the whole ledger ROW-FOR-ROW
    (pytest-pinned) — the corpus is never re-ranked. NOTE the cap
    semantics at the maintained layer: a later arrival with a smaller
    hash key EVICTS a stored survivor (state rewrites, exactly like
    the batch operator re-run on the longer ledger) — downstream
    consumers wanting append-only survivorship should snapshot.
    Live view = :func:`read_maintained_state`. Retractions
    unsupported; feed the append stream."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        cap_state_increment,
    )

    def _merge(state_subset, tick):
        return cap_state_increment(
            state_subset, tick, key_col, group_col, cap, salt, hash_fn
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df,
            batch_id,
            state_dir,
            [group_col],
            state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_group_counts(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained per-group ROW COUNTS over an append
    stream — the simplest additive frame ``(grp…, n)`` and the state
    behind the maintained TRAINING-MIX monitor: per-stratum corpus
    counts fold cell-wise (state ≡ batch counts of the whole ledger,
    pytest-pinned), and ``operators/sampling.py::
    temperature_cuts_from_counts`` reads the temperature-sampling cut
    table from |strata| metadata rows, so each incoming tick samples
    with corpus-consistent cuts (``sample_with_cuts``) while the
    corpus is never recounted. BEHAVIOR NOTE (changed r16): a
    stratum in the tick that the counts fold has not seen yet is now
    KEPT at 100% by ``sample_with_cuts``'s default (left join +
    ``default_cut=None``) — previously the inner join dropped it;
    pass ``default_cut=0`` for the old drop-unseen behavior.
    Retractions unsupported; feed the
    append stream (a retractable feed wants ``maintained_view``'s
    signed fold instead)."""
    if not group_cols:
        raise ValueError(
            "maintained_group_counts: group_cols must be non-empty"
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df.groupBy(*group_cols).agg(
                F.count(F.lit(1)).cast("long").alias("n")
            ),
            batch_id,
            state_dir,
            group_cols,
            state_buckets,
            lambda state, inc: sum_merge(state, inc, group_cols),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_pair_counts(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    window: int = 1,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 16,
):
    """Continuously-maintained co-occurrence PAIR COUNTS over an
    append corpus stream (``operators/text.py::pair_counts`` — the
    skip-gram/bigram frame): counts fold cell-wise, so state after
    any ticks equals the batch pair counts of the whole ledger
    (pytest-pinned) and the PMI collocation ranking
    (``collocations_from_counts`` over this state +
    ``maintained_term_counts``' unigram state) reads two
    vocab-bounded frames instead of re-pairing 100 TB of text — the
    collocation leg of the maintained text-statistics family
    (term_counts = vocabulary, term_stats = BM25, lm_counts =
    backoff LM, pair_counts = PMI). Retractions unsupported; feed
    the append stream."""
    from kamu_engine_datafusion_spark.operators.text import pair_counts

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            pair_counts(batch_df, text_col, window),
            batch_id,
            state_dir,
            ["w1", "w2"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["w1", "w2"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_ngram_set(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    n: int = 2,
    text_col: str = "text",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 16,
):
    """Continuously-maintained distinct REFERENCE N-GRAM SET over an
    append benchmark/reference stream
    (``operators/decontaminate.py::ngram_set_increment``): each tick
    appends only its new-to-state n-grams (tick distinct, left-anti
    the touched buckets — the ``maintained_minhash_index`` append
    protocol, and set union is an idempotent semilattice on top of
    the marker), so the state IS the distinct n-gram set of the whole
    reference ledger and ``novelty_against_ngrams`` scores new corpus
    ticks against it without re-shingling the reference — the
    MEASURING twin of ``maintained_bloom`` (which drops; novelty
    reports). State is one row per distinct reference n-gram,
    bucketed by n-gram hash. Retractions unsupported."""
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        word_ngrams_expr,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the bucket key is the n-gram, so the tick reduces to its
        # distinct n-gram frame FIRST (touched buckets derive from
        # it); the merge is then the increment's left-anti on the
        # touched state — exactly ngram_set_increment's law
        inc = batch_df.select(
            F.explode(word_ngrams_expr(text_col, n)).alias("__ng")
        ).distinct()
        _fold_buckets_append(
            inc,
            batch_id,
            state_dir,
            ["__ng"],
            state_buckets,
            lambda state_subset, frame: (
                frame
                if state_subset is None
                else frame.join(
                    state_subset.select("__ng"), "__ng", "left_anti"
                )
            ),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_moments(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    group_cols: list[str] | None = None,
    scale: int = 1_000_000,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained per-group FIXED-POINT MOMENTS over an
    append stream (``operators/profile.py::moment_counts`` — exact
    BIGINT ``(n, Σq, Σq²)``): the fold is cell-wise addition, exact
    by construction (float sums would be summation-order-sensitive),
    so state after any ticks equals the batch moments of the whole
    ledger bit-for-bit, and ``zscore_from_moments`` serves the
    feature-scaler read — z-score/outlier-gate NEW ticks against
    train-time statistics from groups × 3 longs of state, history
    never re-scanned. Retractions unsupported (moments only add);
    feed the append stream."""
    from kamu_engine_datafusion_spark.operators.profile import (
        moment_counts,
    )

    if not group_cols:
        raise ValueError(
            "maintained_moments: group_cols must be non-empty — the "
            "bucketed fold keys state by group; for a global scaler "
            "pass a constant group column"
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            moment_counts(batch_df, value_col, group_cols, scale),
            batch_id,
            state_dir,
            group_cols,
            state_buckets,
            lambda state, inc: sum_merge(state, inc, group_cols),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_ann_topk(
    spark: SparkSession,
    state_dir: str,
    centroids: list[list[int]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    scale: int = 10_000,
    sim_scale: int = 1_000,
    state_buckets: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Approximate-nearest-neighbor TOP-K served from
    :func:`maintained_semdedup_index` state — ONE maintained store,
    TWO reads: the dedup fold probes a tick's clusters; this searches
    them. The state is an IVF index by construction (cluster == list,
    cluster == bucket key), so a query reads ONLY the bucket files
    holding its ``nprobe`` nearest lists — IVF's list-pruning dial
    (``operators/similarity.py::ivf_topk``) carried to the maintained
    layer: at 100 TB
    the query cost is ``nprobe/nlist`` of the SURVIVOR store, and the
    store is already deduped (a search never returns six copies of
    the same boilerplate — SemDeDup killed them at fold time).

    Probe selection replays :func:`~kamu_engine_datafusion_spark.
    operators.clustering.kmeans_enc_expr`'s integer rule in python —
    ``scale``-quantized query, squared-L2 to the frozen centroids,
    ``dist·k + cid`` encoding so ties break toward the lower cluster
    id EXACTLY like the fold's assignment. Scoring is exact cosine
    over the stored ``sim_scale``-quantized payload ``(q2, n2)``:
    integer dot product (the literal query array rides a broadcast
    one-row frame, never inside an interpreted lambda — the 22×
    rule), one double division, half-up ``dp``; order
    ``(cosine DESC, id)``, limit ``k``. Fully SQL-replayable — the
    xdedup_semantic oracle class.

    ``centroids``/``scale``/``sim_scale``/``state_buckets`` must
    match the fold's (same contract as
    :func:`read_maintained_heavy_hitters`'s grid geometry)."""
    probed = ann_probe_clusters(centroids, query_vec, nprobe, scale)
    # cluster is BIGINT in the state rows; xxhash64 is type-sensitive,
    # so the probe frame must hash the same type the fold bucketed on
    buckets = sorted(
        {
            int(r[0])
            for r in spark.createDataFrame(
                [(c,) for c in probed], "cluster bigint"
            )
            .select(_bucket_of(["cluster"], state_buckets))
            .collect()
        }
    )
    state = (
        spark.read.parquet(state_dir)
        .filter(F.col(_BUCKET_COL).isin(buckets))  # partition pruning
        .filter(F.col("cluster").isin(probed))
        .drop(_BUCKET_COL)
    )
    return ann_topk_from_state_rows(
        state, query_vec, k=k, id_col=id_col, sim_scale=sim_scale, dp=dp
    )


def ann_probe_clusters(
    centroids: list[list[int]],
    query_vec: list[float],
    nprobe: int,
    scale: int = 10_000,
) -> list[int]:
    """Probe-list selection of :func:`read_maintained_ann_topk`,
    module-level so driver keys replay the read's exact code: the
    ``scale``-quantized query's squared-L2 distance to each frozen
    centroid under the fold's ``dist·nlist + cid`` integer encoding
    (ties break toward the lower cluster id, EXACTLY like
    ``kmeans_enc_expr``'s assignment) — the ``nprobe`` nearest
    cluster ids, ascending by encoding."""
    import math

    nlist = len(centroids)
    qs = [int(math.floor(float(x) * scale + 0.5)) for x in query_vec]
    enc = sorted(
        (
            sum((qs[j] - c[j]) ** 2 for j in range(len(c))) * nlist + cid,
            cid,
        )
        for cid, c in enumerate(centroids)
    )
    return [cid for _, cid in enc[:nprobe]]


def ann_topk_from_state_rows(
    state: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    sim_scale: int = 1_000,
    dp: int = 6,
) -> DataFrame:
    """Scoring stage of :func:`read_maintained_ann_topk`, module-level
    so driver keys replay the read's exact code over a probed-state
    FRAME (``semdedup_state_rows`` shape: ``id, cluster, q2, n2``):
    exact cosine over the stored ``sim_scale``-quantized payload —
    integer dot product (the literal query rides a broadcast one-row
    frame, never inside an interpreted lambda — the 22× rule), one
    double division, half-up ``dp``; order ``(cosine DESC, id)``,
    limit ``k``."""
    import math

    from kamu_engine_datafusion_spark.functions.columns import half_up

    qq = [int(math.floor(float(x) * sim_scale + 0.5)) for x in query_vec]
    qn2 = sum(v * v for v in qq)
    qrow = state.sparkSession.createDataFrame(
        [(qq, qn2)], "__qq array<bigint>, __qn2 bigint"
    )
    from kamu_engine_datafusion_spark.operators.clustering import (
        int_dot_expr,
    )

    # exact integer dot (vectorized kernel: an interpreted zip_with
    # fold dominated every stored-state scoring read)
    dot = int_dot_expr(F.col("q2"), F.col("__qq"))
    cos = F.when(
        (F.col("n2") > 0) & (F.lit(qn2) > 0),
        half_up(
            dot
            / F.sqrt(F.col("n2").cast("double") * F.lit(float(qn2))),
            dp,
        ),
    ).otherwise(F.lit(0.0))
    return (
        state.crossJoin(F.broadcast(qrow))
        .select(F.col(id_col), F.col("cluster"), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def mmr_from_state_rows(
    state: DataFrame,
    query_vec: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    sim_scale: int = 1_000,
    dp: int = 6,
) -> DataFrame:
    """Maximal-Marginal-Relevance DIVERSIFIED top-k served from
    SemDeDup-store state rows (``semdedup_state_rows`` shape: ``id,
    cluster, q2, n2``) — the third read over the ONE maintained
    embedding store (fold = dedup, :func:`ann_topk_from_state_rows` =
    search, this = diversified re-rank), the serving path of
    ``operators/similarity.py::mmr_diversify`` that never touches the
    corpus: phase 1 is the distributed exact-cosine top-``pool`` over
    the stored ``sim_scale``-quantized payload (the ANN read's scoring
    expression verbatim — integer dot, one division, half-up ``dp``),
    phase 2 runs the batch operator's EXACT greedy walk (first pick =
    pure relevance; then ``lam·rel − (1−lam)·max-sim-to-selected``;
    argmax ties → ascending id; pairwise sims half-up 6dp) on the
    driver over the bounded pool, with pairwise cosines computed from
    the stored integer payloads — deterministic and SQL-replayable,
    the ``xmmr``/``xann_semdedup_topk`` oracle class. Returns
    ``(rank, id, rel, mmr)`` like the batch operator.

    Scale: with the store IVF-bucketed by cluster, pair with
    :func:`read_maintained_mmr` so phase 1 reads ``nprobe/nlist`` of
    the ALREADY-DEDUPED store (MMR after SemDeDup is the right order:
    exact duplicates died at fold time, MMR handles the near-redundancy
    that survived); only the ``pool`` rows ever reach the driver."""
    import math

    if pool > 10_000:
        raise ValueError(
            f"mmr_from_state_rows: pool={pool} exceeds the driver-side "
            "cap (10000) — the greedy walk is O(pool²) on the driver; "
            "tighten nprobe or pre-filter instead of a huge pool"
        )
    pool_df = ann_topk_from_state_rows(
        state.select(F.col(id_col), "cluster", "q2", "n2"),
        query_vec,
        k=pool,
        id_col=id_col,
        sim_scale=sim_scale,
        dp=dp,
    ).join(state.select(F.col(id_col), "q2", "n2"), id_col)
    rows = pool_df.orderBy(F.col("cosine").desc(), F.col(id_col)).collect()

    def _r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    ids = [r[id_col] for r in rows]
    rel = [r["cosine"] for r in rows]
    vecs = [[int(x) for x in r["q2"]] for r in rows]
    n2 = [int(r["n2"]) for r in rows]
    n = len(rows)
    sim = [
        [
            _r6(
                sum(a * b for a, b in zip(vecs[i], vecs[j]))
                / math.sqrt(float(n2[i]) * float(n2[j]))
            )
            if n2[i] and n2[j]
            else 0.0
            for j in range(n)
        ]
        for i in range(n)
    ]
    # the batch operator's greedy walk verbatim (mmr_diversify's
    # phase 2 — kept textually separate so the driver-green xmmr code
    # path stays byte-identical; the walks are pinned equal by pytest)
    selected: list[int] = []
    out_rows = []
    while rows and len(selected) < k and len(selected) < n:
        best = None
        for i in range(n):
            if i in selected:
                continue
            if not selected:
                score = rel[i]
            else:
                score = lam * rel[i] - (1.0 - lam) * max(
                    sim[i][j] for j in selected
                )
            if best is None or score > best[0] or (
                score == best[0] and ids[i] < ids[best[1]]
            ):
                best = (score, i)
        selected.append(best[1])
        out_rows.append(
            (len(selected), ids[best[1]], rel[best[1]], _r6(best[0]))
        )
    # the id field's type follows the store's (string doc ids work the
    # same as longs — the walk never assumes numeric ids)
    id_type = state.schema[id_col].dataType.simpleString()
    return state.sparkSession.createDataFrame(
        out_rows, f"rank long, {id_col} {id_type}, rel double, mmr double"
    )


def read_maintained_mmr(
    spark: SparkSession,
    state_dir: str,
    centroids: list[list[int]],
    query_vec: list[float],
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    nprobe: int = 2,
    id_col: str = "vec_id",
    scale: int = 10_000,
    sim_scale: int = 1_000,
    state_buckets: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Diversified top-k from :func:`maintained_semdedup_index` state:
    :func:`ann_probe_clusters`' integer probe rule selects the
    ``nprobe`` nearest IVF lists (cluster == bucket key ⇒ partition
    pruning), then :func:`mmr_from_state_rows` pools and re-ranks —
    the MMR twin of :func:`read_maintained_ann_topk`, same geometry
    contract (``centroids``/``scale``/``sim_scale``/``state_buckets``
    must match the fold's)."""
    probed = ann_probe_clusters(centroids, query_vec, nprobe, scale)
    buckets = sorted(
        {
            int(r[0])
            for r in spark.createDataFrame(
                [(c,) for c in probed], "cluster bigint"
            )
            .select(_bucket_of(["cluster"], state_buckets))
            .collect()
        }
    )
    state = (
        spark.read.parquet(state_dir)
        .filter(F.col(_BUCKET_COL).isin(buckets))  # partition pruning
        .filter(F.col("cluster").isin(probed))
        .drop(_BUCKET_COL)
    )
    return mmr_from_state_rows(
        state, query_vec, k=k, pool=pool, lam=lam,
        id_col=id_col, sim_scale=sim_scale, dp=dp,
    )


def maintained_dsir_stats(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    buckets: int = 512,
    hash_fn: str = "poly",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 1,
):
    """Continuously-maintained DSIR bucket-count model over an append
    corpus stream (``operators/sampling.py::dsir_bucket_counts``):
    hashed-bigram bucket counts are additive, so the per-tick fold is
    cell-wise BIGINT addition and state after any ticks equals the
    batch counts of the whole ledger (pytest-pinned). This is the
    incremental half of DSIR importance scoring: the raw-corpus model
    ``q`` (and, if the target also streams, ``p``) folds forward tick
    by tick, and ``dsir_scores_from_stats`` scores each NEW tick with
    corpus-consistent log-ratios while touching only the tick's own
    bigrams — the ``bm25_from_stats`` device applied to data
    selection. State ≤ ``buckets`` rows. Retractions unsupported
    (counts only add); feed the append/live stream."""
    from kamu_engine_datafusion_spark.operators.sampling import (
        dsir_bucket_counts,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the bucket key (b) doesn't exist on raw ledger rows — reduce
        # the increment to its ≤ buckets count rows FIRST (the
        # maintained_countmin pattern)
        _fold_buckets(
            dsir_bucket_counts(batch_df, text_col, buckets, hash_fn),
            batch_id,
            state_dir,
            ["b"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["b"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_heavy_hitters(
    spark: SparkSession,
    state_dir: str,
    ledger_df: DataFrame,
    key_col: str,
    phi_num: int = 1,
    phi_den: int = 100,
    depth: int = 4,
    width: int = 256,
    seed: int = 7,
    hash_fn: str = "poly",
) -> DataFrame:
    """EXACT φ-heavy hitters with phase 1 read from
    :func:`maintained_countmin` state instead of re-built: the CM fold
    is cell-wise addition, so the stored grid equals the batch grid
    over the whole ledger — identical candidates, and the overestimate
    theorem still guarantees no false negatives. The whole query is
    therefore ONE scan of ``ledger_df`` (scan-speed candidate filter +
    broadcast-semi-join exact verify) instead of the batch operator's
    two (grid build + verify) — the after-every-tick heavy-hitter
    alarm at 100 TB. Result ≡
    ``operators.sketches.verified_heavy_hitters(ledger)`` row-for-row
    (pytest-pinned across a 3-tick fold); ``ledger_df`` must be the
    population the maintained fold consumed, and the grid geometry /
    seed / hash must match the fold's."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        heavy_hitters_from_grid,
    )

    grid = read_maintained_state(spark, state_dir)
    return heavy_hitters_from_grid(
        grid, ledger_df, key_col, phi_num, phi_den, depth, width, seed,
        hash_fn,
    )


def maintained_quantile_sketch(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_cols: list[str],
    id_col: str,
    val_col: str,
    k: int = 256,
    hash_fn: str = "poly",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 4,
):
    """Continuously-maintained per-group QUANTILE sketch over an append
    stream — the incremental form of
    ``operators.sketches.quantile_sketch``. Because the sketch's level
    coin is a pure function of each row's id hash, the cross-batch fold
    is an EXACT merge: after any number of ticks the stored state is
    bit-identical to the batch sketch of the whole ledger
    (pytest-pinned), so estimates never drift with micro-batch
    boundaries. State per group is ≤ ~k retained rows + the threshold;
    a tick levels its increment in-row, unions it with the touched
    buckets' stored rows, and re-applies the canonical threshold with
    the stored thresholds as floors (rows under a stored threshold are
    gone — the floor keeps the reported weights honest).

    Retractions are NOT supported (a dropped row's level cannot be
    re-drawn); feed the live/append stream. Current sketch =
    :func:`read_maintained_state`; estimates via
    ``operators.sketches.quantile_sketch_estimates``.
    """
    from kamu_engine_datafusion_spark.operators.sketches import (
        _qsk_levels,
        _qsk_retain,
    )

    def _merge(state_subset, batch_df):
        inc = _qsk_levels(
            batch_df, group_cols, id_col, val_col, hash_fn, "#qsk"
        ).withColumn("__fl", F.lit(0).cast("long"))
        if state_subset is not None:
            st = state_subset.select(
                *group_cols,
                id_col,
                val_col,
                "lvl",
                F.col("thr").alias("__fl"),
            )
            inc = inc.unionByName(st)
        return _qsk_retain(inc, group_cols, k)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df, batch_id, state_dir, group_cols, state_buckets, _merge
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_kmv(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str,
    key_col: str,
    k: int = 256,
    hash_fn: str = "poly",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 4,
):
    """Continuously-maintained per-group KMV DISTINCT-COUNT sketch over
    an append stream (``operators/sketches.py::kmv_sketch``). The KMV
    state — the k smallest distinct key hashes — is a pure function of
    the input SET, so the per-tick fold (union the tick's sketch with
    the touched buckets' state, re-take the k smallest) is an EXACT
    merge: after any number of ticks the stored state equals the batch
    sketch of the whole ledger row-for-row, and
    ``kmv_estimate(read_maintained_state(...))`` is the live distinct
    count. Duplicate re-deliveries are harmless (hv is idempotent
    under distinct). State ≤ k longs per group; per-tick cost
    O(increment + touched buckets). Retractions unsupported (a removed
    key's hash cannot be un-retained); feed the append/live stream."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_merge,
        kmv_sketch,
    )

    def _merge(state_subset, batch_df):
        inc = kmv_sketch(batch_df, [group_col], key_col, k, hash_fn)
        if state_subset is None:
            return inc
        return kmv_merge([state_subset, inc], [group_col], k)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df, batch_id, state_dir, [group_col], state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_histogram(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    value_col: str,
    lo: float,
    hi: float,
    num_bins: int = 10,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 1,
):
    """Continuously-maintained fixed-grid equi-width histogram over an
    append stream — the state side of the maintained DRIFT monitor:
    the grid is frozen by the caller (the monitoring convention: the
    reference snapshot fixes the ruler; drift moves the counts, never
    the bins), so per-bin counts fold ADDITIVELY and the state after
    any number of ticks equals the batch
    ``operators.profile.histogram_fixed_grid`` of the whole ledger
    (pytest-pinned). State is ≤ ``num_bins`` rows; the live PSI read
    (:func:`read_maintained_psi`) costs nothing corpus-shaped.
    Retractions unsupported (counts only add); feed the append/live
    stream. NULL values are dropped (same defined behavior as the
    batch binning rule)."""
    from kamu_engine_datafusion_spark.operators.profile import (
        histogram_fixed_grid,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # the grid key (bin) doesn't exist on raw ledger rows — reduce
        # the increment to its ≤ num_bins count rows FIRST and bucket
        # the state on the bin key (the maintained_countmin pattern)
        _fold_buckets(
            histogram_fixed_grid(batch_df, value_col, lo, hi, num_bins),
            batch_id,
            state_dir,
            ["bin"],
            state_buckets,
            lambda state, inc: sum_merge(state, inc, ["bin"]),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_maintained_psi(
    spark: SparkSession,
    state_dir: str,
    ref_hist: DataFrame,
    lo: float,
    hi: float,
    num_bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """The LIVE drift reading: per-bin PSI contributions between a
    frozen reference histogram (``histogram_fixed_grid`` output — or
    another monitor's state) and :func:`maintained_histogram` state,
    on the shared frozen grid. Output is identical to the batch
    ``population_stability(ref, ledger-so-far)`` row-for-row when the
    grid equals the reference bounds (pytest-pinned) — but the batch
    operator re-scans BOTH populations every run, while this reads
    2 × ≤ num_bins metadata rows: the after-every-tick drift alarm a
    100 TB ingest can afford. Σ psi < 0.1 stable, > 0.25 shifted."""
    from kamu_engine_datafusion_spark.operators.profile import (
        psi_from_histograms,
    )

    state = read_maintained_state(spark, state_dir).select("bin", "n")
    return psi_from_histograms(
        ref_hist, state, lo, hi, num_bins, smoothing
    )


def corpus_card_increment(
    batch_df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 256,
    short_doc_tokens: int = 20,
    hash_fn: str = "poly",
) -> DataFrame:
    """One tick's contribution to the maintained corpus-card state:
    the additive scalars row per group + the tick's own KMV sketch of
    the md5-normalized texts (the ``exact_dedup`` normalization, same
    as ``operators/text.py::corpus_card``). Module-level so the
    driver-verified batch replay (`queries/pipeline.py::
    q_xcorpus_card_maintained`) folds the SAME code the stream folds."""
    from kamu_engine_datafusion_spark.operators.sketches import kmv_sketch
    from kamu_engine_datafusion_spark.operators.text import token_count

    tc = token_count(text_col)
    norm = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )
    scalars = (
        batch_df.withColumn("__tc", tc)
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__tc").cast("long").alias("n_tokens"),
            F.sum(
                (F.col("__tc") < short_doc_tokens).cast("long")
            ).alias("n_short"),
        )
        .select(
            "grp",
            F.lit("s").alias("kind"),
            F.lit(None).cast("long").alias("hv"),
            "n_docs",
            "n_tokens",
            "n_short",
        )
    )
    sk = kmv_sketch(
        batch_df.select(F.col(group_col).alias("grp"), norm.alias("__h")),
        ["grp"], "__h", k, hash_fn,
    ).select(
        "grp",
        F.lit("k").alias("kind"),
        "hv",
        F.lit(0).cast("long").alias("n_docs"),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_short"),
    )
    return scalars.unionByName(sk)


def corpus_card_fold(
    state_subset: DataFrame | None, inc: DataFrame, k: int = 256
) -> DataFrame:
    """Fold one tick's increment into the maintained corpus-card
    state: scalars sum additively, KMV rows re-take the k smallest per
    group (the exact merge law) — so after any number of ticks the
    state is a pure function of the ledger SET."""
    from kamu_engine_datafusion_spark.operators.sketches import kmv_merge

    if state_subset is None:
        return inc

    def rows(kind: str) -> list[DataFrame]:
        return [d.filter(F.col("kind") == kind) for d in (state_subset, inc)]

    # a scalars row's hv is NULL, so grouping on it keeps one row per grp
    scal = sum_merge(*rows("s"), ["grp", "kind", "hv"])
    kmv = kmv_merge(
        [d.select("grp", "hv") for d in rows("k")], ["grp"], k
    ).select(
        "grp",
        F.lit("k").alias("kind"),
        "hv",
        F.lit(0).cast("long").alias("n_docs"),
        F.lit(0).cast("long").alias("n_tokens"),
        F.lit(0).cast("long").alias("n_short"),
    )
    return scal.unionByName(kmv)


def corpus_card_from_state(state: DataFrame, k: int = 256, dp: int = 4):
    """The card projection over a (possibly batch-folded) corpus-card
    state frame — the shared read path of
    :func:`read_maintained_corpus_card` and the driver-verified batch
    replay. See ``read_maintained_corpus_card`` for column semantics
    (incl. the ``is_exact`` regime flag and all-NULL-text groups)."""
    from kamu_engine_datafusion_spark.functions.columns import half_up
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_estimate,
    )

    scal = state.filter(F.col("kind") == "s").select(
        "grp", "n_docs", "n_tokens", "n_short"
    )
    est = kmv_estimate(
        state.filter(F.col("kind") == "k").select("grp", "hv"),
        ["grp"], k, dp,
    ).select(
        "grp",
        F.col("n_state").alias("__n_state"),
        F.col("dv_est").alias("est_distinct_texts"),
    )
    j = scal.join(est, "grp", "left")
    return j.select(
        "grp",
        "n_docs",
        "n_tokens",
        half_up(F.col("n_tokens") / F.col("n_docs"), 2).alias(
            "avg_tokens"
        ),
        half_up(F.col("n_short") / F.col("n_docs"), dp).alias(
            "pct_short"
        ),
        F.coalesce("est_distinct_texts", F.lit(0.0)).alias(
            "est_distinct_texts"
        ),
        F.when(
            F.col("est_distinct_texts").isNotNull(),
            half_up(
                F.greatest(
                    F.lit(0.0),
                    F.lit(1.0)
                    - F.col("est_distinct_texts") / F.col("n_docs"),
                ),
                dp,
            ),
        ).alias("dup_rate_est"),
        (F.coalesce("__n_state", F.lit(0)) < k).alias("is_exact"),
    )


def maintained_corpus_card(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 256,
    short_doc_tokens: int = 20,
    hash_fn: str = "poly",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 4,
):
    """Continuously-maintained per-group CORPUS DATA CARD — the
    composition capstone of the maintained layer: the card's counting
    side (docs, tokens, short docs) is ADDITIVE (plain summation
    fold), and its distinct side (distinct normalized texts → dup
    rate) — the one non-additive statistic in
    ``operators/text.py::corpus_card`` — rides a KMV sketch, whose
    exact merge law makes the whole state a pure function of the
    ledger SET. After any number of ticks the state equals the
    one-shot build (pytest-pinned), and when a group's distinct count
    never fills its k slots the KMV side is EXACT, so the read-back
    card equals the batch ``corpus_card`` value for value.

    State per group: one scalars row ``(grp, 's', NULL, n_docs,
    n_tokens, n_short)`` + ≤ k KMV rows ``(grp, 'k', hv, 0, 0, 0)``
    over the md5-normalized text (the exact_dedup normalization, same
    as corpus_card). Read back with :func:`read_maintained_corpus_card`.
    Retractions unsupported; feed the append/live stream.
    """

    def _merge(state_subset, batch_df):
        return corpus_card_fold(
            state_subset,
            corpus_card_increment(
                batch_df, group_col, text_col, k, short_doc_tokens,
                hash_fn,
            ),
            k,
        )

    # _fold_buckets buckets on key_cols of the BATCH frame (group_col),
    # but merge output keys are named 'grp' — rename via a wrapper so
    # the bucket column derives identically on both sides
    def _fold_named(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df.withColumnRenamed(group_col, "grp")
            if group_col != "grp"
            else batch_df,
            batch_id,
            state_dir,
            ["grp"],
            state_buckets,
            lambda st, b: _merge(st, b.withColumnRenamed("grp", group_col))
            if group_col != "grp"
            else _merge(st, b),
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold_named, schema)


def read_maintained_corpus_card(
    spark: SparkSession, state_dir: str, k: int = 256, dp: int = 4
) -> DataFrame:
    """Materialize the live data card from ``maintained_corpus_card``
    state: ``(grp, n_docs, n_tokens, avg_tokens, pct_short,
    est_distinct_texts, dup_rate_est, is_exact)`` — ratios half-up
    ``dp``. ``is_exact`` tells the consumer which regime the distinct
    side of THIS group is in: true when the group never filled its k
    KMV slots, so ``est_distinct_texts``/``dup_rate_est`` are exact
    (and equal to the batch ``corpus_card``); false when they are the
    (k−1)/u_k estimate. A group whose every text is NULL has a scalars
    row but no KMV rows — it still surfaces (left join), with
    ``est_distinct_texts`` 0.0 (the distinct count of zero non-NULL
    texts, exact) and a NULL ``dup_rate_est`` (a dup rate over no
    hashable texts is undefined, not 1.0)."""
    return corpus_card_from_state(
        read_maintained_state(spark, state_dir), k, dp
    )


def read_maintained_kmv_overlap(
    spark: SparkSession,
    state_dir: str,
    group_col: str,
    k: int = 256,
    dp: int = 4,
) -> DataFrame:
    """Materialize the LIVE cross-source overlap matrix — pairwise
    Jaccard + directional containment per ordered source pair — from
    :func:`maintained_kmv` state, without touching the corpus: the
    maintained state equals the batch KMV sketch of the whole ledger
    row-for-row (exact merge law, pytest-pinned), so the matrix read
    off state is IDENTICAL to the batch
    ``operators.sketches.kmv_overlap_monitor`` over all history. This
    is the standing overlap monitor a 100 TB multi-source ingest runs
    after every tick: per-tick cost is the KMV fold (O(increment +
    touched buckets)), and the matrix read is |groups|²·k METADATA
    rows. Detects a source draining into another (containment → 1)
    long before symmetric Jaccard moves. Columns: ``(grp_a, grp_b,
    n_a_in_union, n_both, containment_a_in_b, n_union_sketch,
    jaccard_est)``."""
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_overlap_monitor,
    )

    state = read_maintained_state(spark, state_dir).select(
        group_col, "hv"
    )
    return kmv_overlap_monitor(state, group_col, k, dp)


def maintained_weighted_sample(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    weight_col: str,
    group_col: str,
    n: int,
    key_col: str = "doc_id",
    salt: int = 0,
    hash_fn: str = "poly",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 4,
):
    """Continuously-maintained per-group WEIGHTED SAMPLE over an append
    stream — the incremental form of
    ``operators/sampling.py::weighted_sample_per_group``. Because the
    Efraimidis–Spirakis A-Res key derives from each row's id hash
    (``sampling.ares_key`` — never ``rand()``), the per-group top-n cut
    is a pure function of the input SET, so the cross-tick fold is an
    EXACT merge: ``topn(A ∪ B) == topn(topn(A) ∪ topn(B))``, and after
    any number of ticks the stored state equals the batch draw over the
    whole ledger row-for-row (pytest-pinned) — the reservoir never
    drifts with micro-batch boundaries. The sketch-layer device
    (quantile sketch: hash levels; here: hash reservoir keys) applied
    to sampling.

    State per group is exactly ≤ n rows ``(group, id, weight, __akey)``;
    a tick keys its increment in-row, unions it with the touched
    buckets' stored rows, and re-takes the per-group top-n — per-tick
    cost O(increment + touched state), the corpus is never re-read.
    Retractions are NOT supported (a removed row's reservoir slot
    cannot be refilled without history); feed the live/append stream.
    Current sample = :func:`read_maintained_state`.
    """
    from kamu_engine_datafusion_spark.operators.sampling import (
        ares_key,
        ares_top_n,
    )

    def _merge(state_subset, batch_df):
        w = F.col(weight_col).cast("double")
        inc = (
            batch_df.filter(w > 0)
            .select(
                F.col(group_col),
                F.col(key_col),
                F.col(weight_col),
                ares_key(key_col, weight_col, salt, hash_fn).alias(
                    "__akey"
                ),
            )
        )
        if state_subset is not None:
            inc = inc.unionByName(state_subset)
        return ares_top_n(inc, group_col, n, key_col)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            batch_df, batch_id, state_dir, [group_col], state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_components(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 16,
):
    """Continuously-maintained CONNECTED COMPONENTS over a stream of
    near-dup edges — the dedup stack's last batch-only piece made
    incremental: new edges (e.g. from
    ``operators/dedup.py::dedup_increment_against_index``) merge into
    the persisted ``(node, component)`` star forest without ever
    recomputing the closure (``operators/clustering.py::cc_increment``
    semantics, pytest-pinned equal to a full recompute across ticks
    including component merges).

    Per tick: resolve the increment's endpoints to their current roots
    via the NODE-BUCKETED root index (a second ``(node, component)``
    map under ``state_dir + ".nodeidx"``, hive-bucketed BY NODE — so
    the lookup reads O(touched node buckets), never the full state:
    node→bucket(component) is unknowable, but node→bucket(node) is
    free), drop the edges that became internal, run star contraction on
    the CONTRACTED increment-sized graph only, and rewrite ONLY the
    touched components' buckets — state is hive-bucketed by
    ``component`` (like :func:`maintained_snapshot` by key), and every
    row that can change lives in a touched root's bucket: the merged
    root is the min of the touched roots, so relabeled rows land in
    touched buckets by construction. After the component fold, the
    membership rows of the tick's final roots (read back
    partition-pruned from the touched component buckets) upsert into
    the node index — O(touched components), not O(state). Exactly-once
    via the bucketed intent/apply protocol on BOTH roots: the index
    folds after the component state under the same batch id, and any
    marker mismatch (a crash between the two folds, or a pre-index
    state layout) falls back to a full-scan resolve plus a one-time
    full index rebuild — correctness never depends on the index being
    fresh.

    Edge retraction is NOT supported (component splits need the full
    edge history); feed the append pair stream. Live view =
    :func:`read_maintained_state`.
    """
    from kamu_engine_datafusion_spark.operators.clustering import (
        connected_components,
    )

    def _make_merge(relabel):
        # `relabel` (old root → merged root) is computed ONCE per tick
        # in _fold and checkpointed — recomputing the closure inside
        # the merge (and again for the node-index maintenance) measured
        # 2× per-tick cost at 1M state
        def _merge(state_subset, exploded):
            # a touched root with no self-row in the touched buckets is
            # a NEW node (every existing component root carries its
            # (r, r) row, and all rows of touched components live in
            # these buckets); it enters rooted at itself, then relabels
            roots = exploded.select(
                F.col("component").alias("node")
            ).distinct()
            if state_subset is None:
                base = roots.select("node", F.col("node").alias("component"))
            else:
                fresh = roots.join(state_subset, "node", "left_anti").select(
                    "node", F.col("node").alias("component")
                )
                base = state_subset.unionByName(fresh)
            return base.join(
                F.broadcast(relabel),
                F.col("component") == F.col("__old"),
                "left",
            ).select(
                "node", F.coalesce("__new", "component").alias("component")
            )

        return _merge

    def _node_upsert(state_subset, rows):
        # node-index merge: replace each touched node's row, keep the
        # bucket's other nodes
        if state_subset is None:
            return rows
        keep = state_subset.join(
            rows.select("node").distinct(), "node", "left_anti"
        )
        return keep.unionByName(rows)

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        node_dir = state_dir + _NODE_IDX_SUFFIX
        # heal interrupted prior ticks BEFORE reading either marker —
        # a committed-but-unapplied intent means the fold logically
        # completed and its marker must be visible to the sync check
        _apply_intent(state_dir)
        _apply_intent(node_dir)
        edges = (
            batch_df.select(
                F.greatest(id_a, id_b).alias("u"),
                F.least(id_a, id_b).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        have_state = bool(_bucket_dirs(state_dir))
        # the node index is usable only when it folded the same batch
        # the component state did (a crash between the two folds, or a
        # pre-index layout, de-syncs them → full-scan fallback + rebuild)
        node_ok = (
            have_state
            and bool(_bucket_dirs(node_dir))
            and _last_folded_batch(node_dir) == _last_folded_batch(state_dir)
        )
        nodes_all = (
            edges.select(F.col("u").alias("node"))
            .unionByName(edges.select(F.col("v").alias("node")))
            .distinct()
        )
        idx = None
        if node_ok:
            # O(touched node buckets): read only the node-index buckets
            # the increment's endpoints hash into
            _, idx = _touched_state(
                nodes_all, node_dir, ["node"], state_buckets
            )
        elif have_state:
            idx = read_maintained_state(sess, state_dir)
        if idx is None:
            resolved = nodes_all.select(
                "node", F.col("node").alias("__root")
            )
        else:
            resolved = nodes_all.join(idx, "node", "left").select(
                "node", F.coalesce("component", "node").alias("__root")
            )
        contracted = (
            edges.join(
                resolved.select(
                    F.col("node").alias("u"), F.col("__root").alias("r_u")
                ),
                "u",
            )
            .join(
                resolved.select(
                    F.col("node").alias("v"), F.col("__root").alias("r_v")
                ),
                "v",
            )
            .select(F.col("r_u").alias("id_a"), F.col("r_v").alias("id_b"))
            .filter(F.col("id_a") != F.col("id_b"))
            .distinct()
            # increment-sized; checkpoint so the resolve join runs once,
            # not once per downstream consumer (touched-bucket collects,
            # merge, node-index maintenance — measured 2× at 1M state)
            .localCheckpoint(eager=True)
        )
        has_edges = bool(contracted.head(1))
        # the tick's relabel map (old root → merged root): computed
        # ONCE, shared by the component merge and the node-index
        # maintenance (it used to be recomputed in both)
        relabel = (
            connected_components(
                contracted, max_iterations=max_iterations
            )
            .select(
                F.col("node").alias("__old"),
                F.col("component").alias("__new"),
            )
            .localCheckpoint(eager=True)
            if has_edges
            else None
        )
        # key every contracted edge by BOTH touched roots, so the
        # touched-bucket set covers every row that can change
        exploded = contracted.select(
            F.col("id_a").alias("component"), "id_a", "id_b"
        ).unionByName(
            contracted.select(
                F.col("id_b").alias("component"), "id_a", "id_b"
            )
        )
        _fold_buckets(
            exploded, batch_id, state_dir, ["component"], state_buckets,
            _make_merge(relabel),
        )
        # ---- node-index maintenance (after the component fold, so a
        # crash-replay that skips the fold still reads the right rows) --
        rows_new = None
        if not node_ok:
            # one-time rebuild (first tick, post-crash, or migration):
            # re-bucket the whole post-fold state by node
            if _bucket_dirs(state_dir):
                rows_new = read_maintained_state(sess, state_dir)
        elif has_edges:
            # the post-fold rows of the touched component buckets,
            # joined to the tick's final roots: every contracted-graph
            # node relabels to one of these
            _, touched_rows = _touched_state(
                exploded, state_dir, ["component"], state_buckets
            )
            final_roots = relabel.select(
                F.col("__new").alias("component")
            ).distinct()
            if touched_rows is not None:
                rows_new = touched_rows.join(
                    F.broadcast(final_roots), "component"
                ).select("node", "component")
        if rows_new is None:
            rows_new = batch_df.select(
                F.col(id_a).alias("node"), F.col(id_a).alias("component")
            ).limit(0)
        _fold_buckets(
            rows_new, batch_id, node_dir, ["node"], state_buckets,
            _node_upsert,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_term_stats(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained CORPUS TERM STATISTICS over a document
    stream — the retrieval leg of the incremental story: per-term
    document frequency plus the corpus scalars (doc count, total token
    length) that BM25's idf/avgdl read
    (``operators/retrieval.py::bm25_from_stats``). Everything is
    ADDITIVE (df, N, Σlen all sum across disjoint ticks), so the fold
    is plain per-key summation and the maintained state equals the
    batch ``term_stats_increment`` of the whole ledger exactly
    (pytest-pinned) — a new tick's documents score with
    corpus-consistent statistics while only the tick is tokenized.

    State: one row per distinct term ``(term, df, 0, 0, 0)`` +
    the reserved ``CORPUS_STATS_KEY`` row ``(·, 0, N, Σlen, N_nonnull)`` —
    vocab-sized, hive-bucketed by term. Retractions are NOT supported
    (df cannot decrement without per-doc term sets); feed the
    append/live stream. Exactly-once via the bucketed intent/apply
    protocol.
    """
    from kamu_engine_datafusion_spark.operators.retrieval import (
        term_stats_increment,
    )

    def _merge(state_subset, inc):
        if state_subset is not None and "n_len" not in state_subset.columns:
            # State persisted by the pre-n_len version of this fold
            # cannot be migrated in place: n_len counts the non-NULL
            # documents each tick contributed, and that count was never
            # recorded. Defaulting it would silently skew avgdl, so
            # fail loudly instead of at unionByName's unresolved-column
            # error.
            raise ValueError(
                "maintained_term_stats: state at this state_dir predates "
                "the n_len column (non-NULL doc count for avgdl) and "
                "cannot be migrated — rebuild the state by re-folding "
                "the ledger into a fresh state_dir/checkpoint_dir"
            )
        return sum_merge(state_subset, inc, ["term"])

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # term-sorted bucket files: BM25 reads carry LITERAL term
        # predicates (IN-list + the scalars-key equality), so parquet
        # row-group min/max stats prune the vocab-sized state below
        # the bucket level; the rewrite replaces touched buckets
        # wholesale, so the layout is self-maintaining (r15 A/B in
        # SCALE.md)
        _fold_buckets(
            term_stats_increment(batch_df, text_col, id_col),
            batch_id,
            state_dir,
            ["term"],
            state_buckets,
            _merge,
            sort_cols=["term"],
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_phash_index(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    num_blocks: int = 4,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained pHash DEDUP INDEX over an image stream —
    the multimodal twin of the text path's persisted MinHash index,
    with the exactly-once bucketed protocol: each tick's images probe
    the stored chunk rows (any Hamming-≤-``max_hamming`` match against
    an already-indexed image means duplicate → not indexed), dedup
    within the tick lower-id-wins, and ONLY the survivors' chunk rows
    enter the state. The index is therefore always a survivor set:
    replaying a tick cannot double-register an image (marker skip), and
    re-sent duplicates die against their earlier copy.

    The key property making this a BUCKETED fold: the state subset a
    tick must consult — every stored row sharing a chunk key with the
    increment — lives exactly in the buckets the increment's OWN chunk
    rows hash to, so ``_fold_buckets``' touched-bucket read IS the
    probe: per-tick cost O(increment + matching buckets), never the
    full index. State rows: ``(media_id, fp, __block)`` hive-bucketed
    by the chunk struct. Retractions unsupported (an un-indexed
    duplicate's rows were never stored); live index =
    :func:`read_maintained_state`, probe it batch-side with
    ``operators/dedup.py::phash_increment_against_index``.
    """
    from kamu_engine_datafusion_spark.functions.columns import hamming64
    from kamu_engine_datafusion_spark.operators.dedup import phash_index

    def _merge(state_subset, inc_chunks):
        vs_index = (
            inc_chunks.alias("n")
            .join(
                state_subset.alias("i"),
                F.col("n.__block") == F.col("i.__block"),
            )
            .select(
                F.col("n.media_id").alias("media_id"),
                hamming64(F.col("n.fp"), F.col("i.fp")).alias("__h"),
            )
            .filter(F.col("__h") <= max_hamming)
            .select("media_id")
            .distinct()
            if state_subset is not None
            else None
        )
        a, b = inc_chunks.alias("a"), inc_chunks.alias("b")
        within = (
            a.join(
                b,
                (F.col("a.__block") == F.col("b.__block"))
                & (F.col("a.media_id") < F.col("b.media_id")),
            )
            .select(
                F.col("b.media_id").alias("media_id"),
                hamming64(F.col("a.fp"), F.col("b.fp")).alias("__h"),
            )
            .filter(F.col("__h") <= max_hamming)
            .select("media_id")
            .distinct()
        )
        dead = within if vs_index is None else vs_index.unionByName(within)
        # ONLY the new survivor rows: the index is purely additive
        # (a stored survivor never changes), so the fold APPENDS —
        # per-tick write cost O(increment), never O(touched state)
        return inc_chunks.join(dead.distinct(), "media_id", "left_anti")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        inc_chunks = phash_index(
            batch_df, id_col, phash_col, max_hamming, num_blocks
        )
        _fold_buckets_append(
            inc_chunks, batch_id, state_dir, ["__block"], state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_minhash_index(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket_size: int | None = 200,
    base_hash: str = "xxhash64",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
    sig_buckets: int = 8,
):
    """Continuously-maintained MinHash DEDUP INDEX over a document
    stream — the TEXT twin of :func:`maintained_phash_index`, bucketed
    and exactly-once rather than a whole-index read per tick: the band
    key doubles as the state bucket key, so the touched-bucket read IS the banded-LSH
    probe, and because a stored survivor's rows never change both
    state parts fold APPEND-ONLY (per-tick write O(increment),
    crash-idempotent, replay-skipped).

    SPLIT state layout (the probe-bytes fix the combined layout
    measured against — 10.80 s/tick at a 1M-doc index because band
    rows carried the 32-long signature 8×): ``state_dir`` holds band
    rows ``(doc_id, __band)`` (~16 B each, hive-bucketed by band);
    ``state_dir + ".sigs"`` holds ONE ``(doc_id, sig)`` row per
    survivor, bucketed by doc-id hash. The probe reads the touched
    band buckets (small), and only verification CANDIDATES' signatures
    are read — a partition-pruned sidecar lookup on the candidates'
    id-hash buckets.

    Semantics match ``operators/dedup.py::
    dedup_increment_against_index`` exactly: banded candidates with
    the ``max_bucket_size`` cap on BOTH sides, signature-estimate
    verification at ``threshold``, any-index-match dies,
    lower-id-wins within the tick; only survivors enter state.

    Crash protocol: sig rows append FIRST (their own marker), band
    rows second (the authoritative marker the outer skip reads). A
    crash between the two replays the tick: the dead set recomputes
    identically (band state unchanged until the band append lands),
    the sig append self-skips on its marker, the band append
    completes. Sig rows whose band rows never landed are unreachable
    garbage (candidates arise only from band rows), never a
    correctness hazard. Live index for batch probing =
    :func:`read_maintained_minhash_index`. Retractions unsupported.
    """
    from kamu_engine_datafusion_spark.operators.dedup import (
        _cap_buckets,
        estimated_jaccard,
        minhash_index,
    )

    sig_dir = state_dir + _SIG_SUFFIX

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if _already_folded(batch_id, state_dir, sig_dir):
            return
        inc = minhash_index(
            batch_df, text_col, id_col, shingle_len, num_hashes,
            num_bands, base_hash,
        ).persist()
        inc.count()  # populate before the probe legs fan out
        _, state_bands = _touched_state(
            inc, state_dir, ["__band"], state_buckets
        )
        capped = (
            _cap_buckets(inc, "__band", max_bucket_size)
            if max_bucket_size
            else inc
        )
        dead = None
        if state_bands is not None:
            idx_b = (
                _cap_buckets(state_bands, "__band", max_bucket_size)
                if max_bucket_size
                else state_bands
            )
            cand = (
                capped.alias("n")
                .join(
                    idx_b.alias("i"),
                    F.col("n.__band") == F.col("i.__band"),
                )
                .select(
                    F.col("i.doc_id").alias("idx_id"),
                    F.col("n.doc_id").alias("new_id"),
                    F.col("n.sig").alias("nsig"),
                )
                .distinct()
                .persist()
            )
            # partition-pruned sidecar lookup: only the candidates'
            # id-hash buckets are read — this is where the split
            # layout pays (bounded distinct-bucket collect ≤
            # sig_buckets ints)
            _, sigs = _touched_state(
                cand, sig_dir, ["idx_id"], sig_buckets
            )
            if sigs is not None:
                sigs = sigs.withColumnRenamed(
                    "doc_id", "idx_id"
                ).withColumnRenamed("sig", "isig")
                dead = (
                    cand.join(sigs, "idx_id")
                    .select(
                        F.col("new_id").alias("doc_id"),
                        estimated_jaccard(
                            F.col("nsig"), F.col("isig"), num_hashes
                        ).alias("__est"),
                    )
                    .filter(F.col("__est") >= threshold)
                    .select("doc_id")
                    .distinct()
                )
            cand.unpersist()
        a, b = capped.alias("a"), capped.alias("b")
        within = (
            a.join(
                b,
                (F.col("a.__band") == F.col("b.__band"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("b.doc_id").alias("doc_id"),
                estimated_jaccard(
                    F.col("a.sig"), F.col("b.sig"), num_hashes
                ).alias("__est"),
            )
            .filter(F.col("__est") >= threshold)
            .select("doc_id")
            .distinct()
        )
        dead = within if dead is None else dead.unionByName(within)
        dead = dead.distinct().persist()
        dead.count()  # populate before the two append legs fan out
        surv = inc.join(dead, "doc_id", "left_anti").persist()
        surv.count()
        # sigs FIRST (own marker; skipped on replay), bands SECOND
        # (the authoritative marker) — see the crash protocol above
        _fold_buckets_append(
            surv.select("doc_id", "sig").distinct(),
            batch_id, sig_dir, ["doc_id"], sig_buckets,
            lambda st, frame: frame, read_state=False,
        )
        _fold_buckets_append(
            surv.select("doc_id", "__band"),
            batch_id, state_dir, ["__band"], state_buckets,
            lambda st, frame: frame, read_state=False,
        )
        surv.unpersist()
        dead.unpersist()
        inc.unpersist()

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


#: Sidecar suffix for the signature table of the split MinHash index.
_SIG_SUFFIX = ".sigs"


def read_maintained_minhash_index(
    spark: SparkSession, state_dir: str
) -> DataFrame:
    """Materialize the classic ``(doc_id, sig, __band)`` index frame
    from the split layout — the format
    ``operators/dedup.py::dedup_increment_against_index`` probes
    batch-side."""
    bands = read_maintained_state(spark, state_dir).select(
        "doc_id", "__band"
    )
    sigs = (
        read_maintained_state(spark, state_dir + _SIG_SUFFIX)
        .select("doc_id", "sig")
        .distinct()
    )
    return bands.join(sigs, "doc_id").select("doc_id", "sig", "__band")


def maintained_semdedup_index(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    centroids: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
    sim_scale: int = 1_000,
    tau2_num: int = 9_025,
    tau2_den: int = 10_000,
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 8,
):
    """Continuously-maintained SEMANTIC dedup index over an embedding
    stream — SemDeDup (Abbas et al. 2023) at the maintained layer, the
    embedding twin of :func:`maintained_phash_index` /
    :func:`maintained_minhash_index`: the CLUSTER is both the probe
    key and the state bucket key, so the touched-bucket read IS the
    per-cluster candidate set, and because survivors never change the
    state folds APPEND-ONLY (per-tick write O(increment)).

    ``centroids`` are FROZEN integer centroids
    (``operators/clustering.py::lloyd_centroids`` over a seed corpus,
    or any fixed codebook) — re-clustering would re-bucket history, so
    the streaming contract pins them; assignment replays
    ``kmeans_fixed_point``'s integer argmin exactly. A tick's rows are
    assigned in-row (broadcast literal centroids, no shuffle), probed
    against the touched clusters' stored survivors with the
    division-free quantized cosine² ≥ τ² test, deduped within the tick
    lower-id-wins (``operators/clustering.py::
    semdedup_increment_against_index`` — the exact code this fold
    runs), and only survivors append. One-tick fold over a whole
    corpus equals batch :func:`~kamu_engine_datafusion_spark.operators
    .clustering.semdedup`'s keep set (pytest-pinned). State row:
    ``(id, cluster, q2, n2)`` — read back with
    :func:`read_maintained_state`; retractions unsupported."""
    from kamu_engine_datafusion_spark.operators.clustering import (
        semdedup_increment_against_index,
        semdedup_state_rows,
    )

    def _new_rows(state_subset, inc_frame):
        return semdedup_increment_against_index(
            inc_frame, state_subset, id_col, tau2_num, tau2_den
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        # assign clusters FIRST: the cluster is the bucket key, so the
        # fold's touched-bucket set derives from the assigned frame
        inc = semdedup_state_rows(
            batch_df, centroids, id_col, vec_col, scale, sim_scale
        ).persist()
        try:
            inc.count()  # populate before touched-collect + probe fan out
            _fold_buckets_append(
                inc, batch_id, state_dir, ["cluster"], state_buckets,
                _new_rows, read_state=True,
            )
        finally:
            inc.unpersist()

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def maintained_bloom(
    ledger_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    shingle_len: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 17,
    hash_fn: str = "xxhash64",
    schema: T.StructType | None = None,
    spark: SparkSession | None = None,
    state_buckets: int = 4,
):
    """Continuously-maintained BLOOM FILTER over a benchmark/reference
    ledger stream — the decontamination prefilter
    (``operators/decontaminate.py::bloom_flag_contaminated``) kept
    up to date as new eval sets land, without rebuilding over history.
    Bitmap OR is associative, commutative, and IDEMPOTENT, so replayed
    or reordered micro-batches can never corrupt the filter, and the
    maintained state is bit-identical to a one-shot build over the
    whole ledger (pytest-pinned).

    State: one row per non-zero bitmap WORD ``(i, w)`` (≤ m_bits/64
    rows), bucketed like the other maintained folds; a tick reduces its
    increment to its own word set (≤ k·shingles positions) and ORs into
    the touched buckets. Read back with :func:`read_bloom_state` for
    the scan-side membership test.
    """
    from kamu_engine_datafusion_spark.functions.columns import (
        minhash_coeffs,
    )
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        _bloom_positions,
    )

    coeffs = minhash_coeffs(k_hashes, seed)

    def _words(batch_df: DataFrame) -> DataFrame:
        pos = _bloom_positions(
            batch_df, text_col, shingle_len, m_bits, coeffs, hash_fn
        )
        # per-word OR of the tick's bit positions: shiftleft needs a
        # literal count in the python API — build the single-bit word
        # with the SQL form, then fold bits of the same word together
        return (
            pos.select(
                F.floor(F.col("__p") / F.lit(64)).cast("long").alias("i"),
                F.expr(
                    "shiftleft(cast(1 as bigint), "
                    "cast(pmod(__p, 64) as int))"
                ).alias("__bit"),
            )
            .groupBy("i")
            .agg(F.bit_or("__bit").alias("w"))
        )

    def _merge(state_subset, inc_words):
        if state_subset is None:
            return inc_words
        return (
            state_subset.unionByName(inc_words)
            .groupBy("i")
            .agg(F.bit_or("w").alias("w"))
        )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        _fold_buckets(
            _words(batch_df), batch_id, state_dir, ["i"], state_buckets,
            _merge,
        )

    return fold_stream(spark, ledger_dir, checkpoint_dir, _fold, schema)


def read_bloom_state(
    spark: SparkSession, state_dir: str, m_bits: int = 1 << 20
) -> list[int]:
    """Materialize the maintained Bloom state back to the dense word
    list ``bloom_flag_contaminated``'s scan-side test consumes."""
    bitmap = [0] * ((m_bits + 63) // 64)
    for r in read_maintained_state(spark, state_dir).collect():
        bitmap[int(r["i"])] = int(r["w"])
    return bitmap
