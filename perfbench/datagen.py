"""Seeded input generation for the benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical Parquet inputs. Schemas follow the engine's test corpus
(``queries/_util.TABLES``): a TPC-H-shaped star schema plus the
``documents`` / ``embeddings`` tables the pipeline operators read. Rows
are generated i.i.d. and then permuted, so no table arrives in key order.

Ledgers are ODF datasets: offset-dense part files carrying
``offset`` / ``op`` / ``system_time`` / ``event_time`` ahead of the data
columns, exactly as a coordinator hands them to the engine.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UTC = timezone.utc

#: Rows per table at scale factor 1 (the corpus convention: sf0.1
#: lineitem is ~600k rows).
_ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "documents": 50_000,
}
_EMBEDDINGS_MAX = 2000
_EMBEDDING_DIM = 64
_EMBEDDING_LABELS = 10

_SHIPDATE_EPOCH = np.datetime64("1995-01-02", "D")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def _rows(table: str, sf: float) -> int:
    return max(1, int(round(_ROWS_AT_SF1[table] * sf)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, exact in cents."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def lineitem(rng: np.random.Generator, n: int, n_orders: int,
             n_parts: int = 20_000, n_supps: int = 1000) -> pa.Table:
    """TPC-H-shaped line items. Quantities are whole numbers stored as
    doubles, so sums over them are exact in any summation order."""
    days = rng.integers(0, 2500, n).astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105_000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
        "l_shipdate": pa.array(
            (_SHIPDATE_EPOCH + days).astype("datetime64[us]"), pa.timestamp("us")
        ),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 30-word vocabulary; about 5% are
    near-duplicates (an earlier document plus one extra token), so the
    dedup and decontamination operators have real work to find."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_WEIGHTS)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors weakly clustered around one random center per label."""
    labels = rng.integers(0, _EMBEDDING_LABELS, n)
    centers = rng.standard_normal((_EMBEDDING_LABELS, _EMBEDDING_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.standard_normal((n, _EMBEDDING_DIM)) / np.sqrt(_EMBEDDING_DIM)
    vecs = 0.15 * centers[labels] + noise
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _permuted(rng: np.random.Generator, t: pa.Table) -> pa.Table:
    return t.take(pa.array(rng.permutation(t.num_rows)))


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables the registry keys read as ``<out_dir>/<t>.parquet``
    (the layout ``queries._util.load`` expects); returns row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_orders = (_rows(t, sf) for t in ("customer", "supplier", "orders"))
    n_emb = min(_EMBEDDINGS_MAX, _rows("documents", sf))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, 0, 10_000, n_cust)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, 0, 10_000, n_supp)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_orders)),
            "o_orderdate": pa.array(
                (_SHIPDATE_EPOCH + rng.integers(0, 2400, n_orders).astype("timedelta64[D]"))
                .astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
        }),
        "lineitem": lineitem(rng, _rows("lineitem", sf), n_orders,
                             n_parts=max(1, int(200_000 * sf)), n_supps=n_supp),
        "documents": _documents(rng, _rows("documents", sf)),
        "embeddings": _embeddings(rng, n_emb),
    }
    counts = {}
    for name, t in tables.items():
        t = _permuted(rng, t)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


# -- ODF ledgers --------------------------------------------------------------


def parquet_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


def millis(ts: datetime) -> int:
    """Exact integer epoch milliseconds of an aware datetime."""
    return (ts - datetime(1970, 1, 1, tzinfo=UTC)) // timedelta(milliseconds=1)


#: Upstream system time of every generated ledger row.
LEDGER_SYSTEM_TIME = datetime(2024, 1, 1, tzinfo=UTC)


def as_ledger(data: pa.Table, start_offset: int) -> pa.Table:
    """Prefix line items with the ODF system columns; ``event_time`` is
    the ship date (dropped from the data columns)."""
    n = data.num_rows
    event = data.column("l_shipdate").cast(pa.timestamp("ms", "UTC"))
    rest = data.drop_columns(["l_shipdate"])
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(start_offset, start_offset + n), pa.int64()),
            pa.array(np.zeros(n, np.int32)),
            pa.array(np.full(n, millis(LEDGER_SYSTEM_TIME)), pa.timestamp("ms", "UTC")),
            event,
            *rest.columns,
        ],
        names=["offset", "op", "system_time", "event_time", *rest.column_names],
    )


def write_ledger_parts(ledger_dir: str, data: pa.Table, n_parts: int,
                       start_offset: int = 0, first_part: int = 0) -> list[str]:
    """Split ``data`` into ``n_parts`` offset-contiguous part files named
    so that lexical order is offset order; returns the paths."""
    os.makedirs(ledger_dir, exist_ok=True)
    ledger = as_ledger(data, start_offset)
    bounds = np.linspace(0, ledger.num_rows, n_parts + 1).astype(int)
    paths = []
    for i in range(n_parts):
        path = os.path.join(ledger_dir, f"part-{first_part + i:05d}.parquet")
        pq.write_table(ledger.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        paths.append(path)
    return paths
