"""Reusable Column-expression builders (JVM-side, codegen-friendly):
tokens and shingles, MinHash coefficients and LSH band keys, vector
dot products and norms, half-up rounding, Hamming distance.

Everything here composes ``pyspark.sql.functions`` — no Python UDFs — so
the expressions inline into whole-stage codegen and scale with the
cluster. Pandas-UDF fallbacks for genuinely non-expressible operators
live next to their operators, not here.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1 for universal hashing (Broder's minwise-hashing
# construction). 31-bit values keep (h * a + b) within a 64-bit long under
# ANSI overflow checking.
_MERSENNE_31 = (1 << 31) - 1


def tokens(col: Column | str) -> Column:
    """Lowercased whitespace tokens of a text column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(F.lower(c)), r"\s+")


def _let(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE per
    row and pass the materialized value to ``body`` as a lambda
    variable.

    Why this exists: higher-order functions evaluate interpreted, and a
    lambda body's non-lambda subtrees are RE-EVALUATED on every element
    the lambda visits — referencing the same Python ``Column`` twice
    also inlines two copies of its expression tree (no codegen CSE for
    HOFs). Wrapping the expensive expression in a 1-element array and
    binding it through ``transform`` forces single evaluation: measured
    2.6× on the 8-gram shingle pipeline at sf0.1.
    """
    return F.element_at(F.transform(F.array(bound), body), 1)


def word_shingles(tok: Column, n: int) -> Column:
    """Array of n-word shingles (contiguous token n-grams, space-joined).

    Texts shorter than ``n`` tokens yield a single shingle of the whole
    text, so no document hashes to an empty set. ``tok`` is let-bound —
    evaluated once per row, not once per shingle position.
    """
    def body(tv: Column) -> Column:
        count = F.greatest(F.lit(1), F.size(tv) - (n - 1))
        return F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(" ", F.slice(tv, i, n)),
        )

    return _let(tok, body)


def minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) coefficient pairs for the universal hash family
    ``(a * h + b) mod M31``."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


#: Rolling-combination prime for hashed shingles (any odd prime < 2^31).
_SHINGLE_PRIME = 1000003


def poly_hash31(col: Column) -> Column:
    """31-bit polynomial rolling hash of a string: fold
    ``acc = (acc*31 + ascii(char)) mod M31`` over the characters.

    Weaker than xxhash64 but expressible identically in ANSI-ish SQL
    (DuckDB ``list_reduce`` over ``string_split(s, '')``) — used by the
    cross-engine-verifiable MinHash variant and every "poly"-profile
    sketch/sampling operator.

    This is the interpreted-HOF form (~2.2 µs/row on 15-char ids). Two
    things keep it off hot paths (r17): multi-reference call sites
    let-bind or stage the result (no codegen CSE exists for HOFs), and
    corpus-scale scans use the bit-exact vectorized twin
    ``functions/arrow_hash.py::poly31_hash_udf``. An unrolled
    substring/ascii codegen chain was tried and REJECTED: 48 steps
    exceed JIT method limits (measured 2.3× slower standalone, 8×
    slower under ``_let``)."""
    chars = F.filter(F.split(col, ""), lambda x: x != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + F.ascii(x)) % _MERSENNE_31,
    )


def lsh_band_keys_fold(
    signature: Column, num_bands: int, rows_per_band: int
) -> Column:
    """Band keys via a polynomial fold over signature components —
    the SQL-expressible alternative to :func:`lsh_band_keys`
    (``acc = (acc*P + component) mod M31`` per component)."""
    keys = []
    for band in range(num_bands):
        acc: Column = F.lit(0).cast("long")
        for i in range(rows_per_band):
            comp = F.element_at(signature, band * rows_per_band + i + 1)
            acc = (acc * _SHINGLE_PRIME + comp) % _MERSENNE_31
        keys.append(acc)
    return F.array(*keys)


def shingle_hash_array(tok: Column, n: int) -> Column:
    """31-bit hashes of the n-token shingles of ``tok`` — WITHOUT
    materializing shingle strings.

    Hash every token once, then combine n consecutive token hashes with
    two slice+zip_with passes (``h[i]*P + h[i+1]`` folded mod M31).
    Measured ~4× faster than building string shingles via
    slice+concat_ws (which allocates an array per position): the hot
    path of MinHash at corpus scale is exactly this expression.

    Tail shingles shorter than ``n`` combine with 0 (deterministic);
    texts shorter than ``n`` tokens yield one partial-shingle hash.

    The token-hash array is let-bound (:func:`_let`): without it, every
    ``slice`` embeds its own copy of the tokenize+hash tree and the
    interpreted HOF pipeline re-runs it n times per row — measured 2.6×
    at n=8 on sf0.1.
    """
    h = F.transform(tok, lambda t: F.pmod(F.xxhash64(t), F.lit(_MERSENNE_31)))

    def body(hv: Column) -> Column:
        m = F.greatest(F.lit(1), F.size(hv) - (n - 1))
        acc = F.slice(hv, 1, m)
        for j in range(1, n):
            nxt = F.slice(hv, j + 1, m)  # may be shorter; zip_with pads nulls
            acc = F.zip_with(
                acc,
                nxt,
                lambda x, y: F.pmod(
                    x * _SHINGLE_PRIME + F.coalesce(y, F.lit(0)),
                    F.lit(_MERSENNE_31),
                ),
            )
        return acc

    return _let(h, body)


def lsh_band_keys(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """Array of ``num_bands`` band-bucket keys: hash of each contiguous
    ``rows_per_band`` slice of the signature. Docs sharing any band key
    are LSH candidates."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(band),
                *[
                    F.element_at(signature, band * rows_per_band + i + 1)
                    for i in range(rows_per_band)
                ],
            )
            for band in range(num_bands)
        ]
    )


def half_up(col: Column, dp: int) -> Column:
    """Round to ``dp`` decimals with EXPLICIT half-up semantics:
    ``floor(x·10^dp + 0.5) / 10^dp``.

    The engines' ``round()`` builtins disagree on values landing
    exactly on a rounding half even when the input doubles are
    bit-identical (observed: 3.85225 → Spark 3.8522, DuckDB 3.8523),
    which can flip a downstream rank or argmax between engines. Pair
    with the same ``floor(x * 1eN + 0.5) / 1eN`` expression in oracle
    SQL.
    """
    scale = F.lit(float(10**dp))
    return F.floor(col * scale + F.lit(0.5)) / scale


def dot_product(u: Column, v: Column, dim: int | None = None) -> Column:
    """Double-precision dot product of two ``array<numeric>`` columns
    with sequential (array-order) summation — identical results on any
    engine that sums left-to-right (oracle-checkable against DuckDB's
    ``list_dot_product``).

    ``dim`` exists for API stability but the unrolled form it enabled was
    measured SLOWER than the higher-order form: a 64-term element_at sum
    blows past codegen method-size limits and falls back to interpreted
    evaluation of a huge tree, while ``aggregate``'s loop stays compact.
    Both sum left-to-right (bit-identical results).
    """
    return F.aggregate(
        F.zip_with(u, v, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(v: Column, dim: int | None = None) -> Column:
    """Euclidean norm of an ``array<numeric>`` column."""
    return F.sqrt(dot_product(v, v, dim))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit hashes (popcount of XOR)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("int")
