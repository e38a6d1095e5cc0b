"""Deferred release of persisted intermediates.

An operator that returns a lazy DataFrame reading one of its own
persisted intermediates cannot unpersist that intermediate before
returning: the caller has not run the result yet. It parks the
intermediate on a :class:`DeferredLedger` instead, and the ledger is
released at the start of the NEXT call that shares it (or by an explicit
``release()`` after a session's last call). A long-lived engine looping
over increments therefore holds at most one call's blocks and never
needs ``clearCache()``.

Each scope with its own release point is one ledger instance:

- ``system_columns.OFFSET_LEDGER`` — distributed offset/rank persists,
  shared with ``sampling.grouped_rank``;
- ``dedup.DEDUP_LEDGER`` / ``dedup.STATE_LEDGER`` — per-call LSH
  intermediates and maintained-state folds (kept apart because a
  per-call release must not drop state a later tick still folds over);
- ``sketches.SKETCH_LEDGER``, ``partitioning.SKEW_LEDGER``,
  ``snapshot.GAPFILL_LEDGER``, ``retrieval.RETRIEVAL_LEDGER``.

``persist`` rather than ``localCheckpoint`` because
``DataFrame.unpersist`` releases only cacheManager entries — checkpoint
RDD blocks would stay pinned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class DeferredLedger:
    """Persisted intermediates parked until the next release point.

    HAZARD — release makes the DataFrames returned by EARLIER calls
    single-use. Re-executing such a result after its persist was
    released recomputes the lineage. For most operators that is only
    slower. For the distributed offset/rank builders it can be silently
    WRONG: ``monotonically_increasing_id`` is stable only for a fixed
    physical partitioning, and a re-planned scan (AQE, re-sampled range
    boundaries, a lost executor's recomputed partition) can renumber
    rows, yielding offsets that are dense and plausible but different.
    The ODF engine's own call pattern is safe by construction (every
    transform materializes its result to parquet before the next
    request). Any other caller must fully materialize (sink, collect or
    checkpoint) each result before triggering the next call on the same
    ledger, or before calling :meth:`release` itself.
    """

    def __init__(self) -> None:
        self._parked: list[DataFrame] = []

    def __len__(self) -> int:
        return len(self._parked)

    def park(self, *dfs: DataFrame) -> None:
        """Hand already-persisted frames to the ledger."""
        self._parked.extend(dfs)

    def persist(self, df: DataFrame) -> DataFrame:
        """``df.persist()``, parked; returns the persisted frame."""
        df = df.persist()
        self._parked.append(df)
        return df

    def release(
        self, blocking: bool = False, keep: tuple[DataFrame, ...] = ()
    ) -> None:
        """Unpersist everything parked so far (see the class HAZARD),
        except frames with the same plan as one in ``keep``: Spark keeps
        one cache entry per plan, so a later call that persisted the
        same query again shares that entry, and unpersisting the
        earlier frame would drop it too."""
        while self._parked:
            df = self._parked.pop()
            try:
                if not any(df.sameSemantics(k) for k in keep):
                    df.unpersist(blocking=blocking)
            except Exception:
                pass  # session already stopped: nothing to free
