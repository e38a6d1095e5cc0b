"""Query inventory: one deterministic query per SURVEY.md §2 operator row.

Each entry is a callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) a DuckDB-equivalent oracle SQL string. Keys are the
stable SURVEY §2 ids (``a4…``, ``b16…``, plus ``x…`` for the
beyond-parity training-data operators).

Determinism rules applied throughout (driver hash-matches values):
- every computed column is aliased identically on both sides;
- double aggregates are rounded (2dp for money sums, 4dp for ratios) so
  summation-order float noise cannot flip the hash;
- integer-typed outputs are cast to BIGINT on both sides (Spark's
  ``length``/``size``/``year`` return int32 where DuckDB returns int64);
- window functions order by a unique key so ranks never tie;
- a computed double whose true decimal value lands EXACTLY on a
  rounding half must not go through the engines' ``round()`` builtins
  (they disagree on such values even when the input doubles are
  bit-identical — observed: 3.85225 → Spark 3.8522, DuckDB 3.8523);
  use explicit half-up ``floor(x·10^d + 0.5)/10^d`` on both sides, or
  pin the upstream statistics (``stat_precision``-style) so the score
  never reaches a half.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Collection, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from kamu_engine_datafusion_spark.queries import layer_a, layer_b, pipeline
from kamu_engine_datafusion_spark.queries.layer_b import q_b16_groupby_agg

__all__ = [
    "registry",
    "oracles",
    "load_rounds",
    "verification_order",
    "q_b16_groupby_agg",
]

_ROOT = Path(__file__).resolve().parents[2]

# The driver's CORRECTNESS gate checks registry entries front to back
# (about 50 a round), so registry() lists the keys that most need a
# driver check first. A key scores the round of its latest driver check
# when that check was green (hash_match, or err == "no_oracle" on a key
# with no oracle: rows-only by design), and -1 when its latest check was
# not green or it was never checked. Keys sort by (score, registration
# index): red and unchecked keys first, then the oldest greens. With no
# round files on disk every key scores -1 and registration order stands.


def load_rounds(max_round: int | None = None) -> list[tuple[int, dict]]:
    """``(round, {key: driver row})`` for every ``CORRECTNESS_r*.json``
    in the repository root, oldest first; rounds above ``max_round``
    are skipped."""
    out = []
    for p in _ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name)
        if m and (max_round is None or int(m.group(1)) <= max_round):
            out.append((int(m.group(1)), json.loads(p.read_text())))
    return sorted(out, key=lambda r: r[0])


def verification_order(
    keys: Iterable[str],
    rounds: Iterable[tuple[int, dict]],
    oracle_keys: Collection[str],
) -> list[str]:
    """``keys`` (in registration order) sorted by the rule above."""
    latest: dict[str, tuple[int, dict]] = {}
    for rnd, data in sorted(rounds, key=lambda r: r[0]):
        for key, row in data.items():
            latest[key] = (rnd, row)

    def score(key: str) -> int:
        rnd, row = latest.get(key, (-1, {}))
        if row.get("err") == "no_oracle":
            green = key not in oracle_keys
        else:
            green = bool(row.get("hash_match"))
        return rnd if green else -1

    return sorted(keys, key=score)  # stable: ties keep registration order


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in (layer_a, layer_b, pipeline):
        merged.update(mod.QUERIES)
    order = verification_order(merged, load_rounds(), set(oracles()))
    return {k: merged[k] for k in order}


def oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in (layer_a, layer_b, pipeline):
        out.update(mod.ORACLES)
    return out
