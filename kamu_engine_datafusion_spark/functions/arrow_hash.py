"""Vectorized (Arrow/numpy) twins of the JVM-side hash pipeline.

Why this exists: Spark's higher-order functions (``transform`` /
``zip_with`` / ``aggregate``) evaluate INTERPRETED — outside
whole-stage codegen — so the MinHash signature expression
(token-hash → shingle-fold → per-hash minima) rides the engine's
slowest expression path and dominates the dedup kernels' wall time
(26% of the sf0.1 bench, ~75% at sf1; SCALE.md rounds 13-15). It is
also the one subsystem whose throughput drifts with JVM host state,
which is what ``bench.py``'s ``calibration_hof`` measures.

This module computes the SAME signatures in numpy inside an
Arrow-batched pandas UDF — the sanctioned slow-path escape (the
template of ``semantic_dedup``'s numpy kernels): one padded
byte-matrix xxhash64 over the batch's distinct tokens, one flat
ragged-range shingle fold, and ``num_hashes`` vectorized min-reduces.
Bit-exact with the JVM path by construction:

- :func:`xxhash64_bytes` reproduces Spark's ``XxHash64`` (canonical
  XXH64, little-endian word reads, seed 42 — the published xxHash
  spec, same algorithm DataFusion/DuckDB ship) — pinned against
  ``F.xxhash64`` by a hypothesis property test;
- tokenization mirrors ``functions.columns.tokens`` (lower → Java
  ``trim`` (strip of all chars ≤ U+0020) → split on Java ``\\s+`` =
  ``[ \\t\\n\\x0b\\f\\r]+``);
- the shingle fold and universal-hash minima use the exact integer
  recurrences of ``shingle_hash_array`` / ``minhash_signatures``
  (all values < 2³¹, products < 2⁶² — int64-safe on both engines).

Scale shape: ZERO shuffle — signatures are computed in-row per Arrow
batch, so parallelism comes from the input splits (the right shape on
a many-split 100 TB corpus, where the explode→groupBy formulation
pays a corpus-sized exchange). The interpreted formulations live in
``tests/jvm_twins.py`` as references; equivalence is pytest-pinned on
the documents corpus.
"""

from __future__ import annotations

import re

from pyspark.sql import Column

from kamu_engine_datafusion_spark.functions.columns import (
    _MERSENNE_31,
    _SHINGLE_PRIME,
    minhash_coeffs,
)

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_MASK = (1 << 64) - 1

#: Java regex ``\s`` (no UNICODE_CHARACTER_CLASS): exactly these six.
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def java_tokens(s: str) -> list[str]:
    """Python twin of ``functions.columns.tokens``:
    ``split(trim(lower(s)), '\\s+')`` with Spark/Java semantics —
    Spark ``trim`` strips SPACES (U+0020) only, not tabs/newlines/
    control chars, and Java ``Pattern.split`` with the default
    ``limit=-1`` KEEPS leading/trailing empty strings exposed by
    non-space whitespace at the ends (Python ``re.split`` matches
    that). An empty/space-only string yields ``['']`` — one empty
    token, exactly like Java ``"".split(regex)`` (pinned by the
    tokens-parity pytest against live Spark).

    Locale caveat (documented contract): for non-ASCII input Spark's
    ``lower()`` falls back to JVM ``String.toLowerCase()`` under the
    DEFAULT locale, while Python ``str.lower()`` is the Unicode
    default (root-locale) mapping. The two agree for every locale
    except the handful with special casing rules (Turkish/Azeri
    dotted-I, Lithuanian accents); the parity pytest pins agreement
    on non-ASCII corpora under this container's root-equivalent
    locale. Running executors under ``tr_TR``-style JVM locales
    breaks the arrow/JVM signature bit-parity — set
    ``-Duser.language=en`` (or any non-special-casing locale) on the
    executors."""
    return _JAVA_WS.split(s.lower().strip(" "))


def _rotl(x, r):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_bytes(byte_rows: list[bytes], seed: int = 42):
    """Vectorized XXH64 of each bytes row (Spark ``F.xxhash64`` on a
    string column = XXH64 of its UTF-8 bytes, seed 42). Returns an
    int64 numpy array of signed hashes — bit-exact with the JVM
    (property-pinned). One padded (rows × width) byte matrix; stripes,
    word/4-byte/byte tails, and the avalanche all run as masked
    whole-matrix ops, so cost is O(rows × longest-row) with numpy
    constants. Callers hash DISTINCT tokens, so width stays word-sized
    on natural text."""
    import numpy as np

    k = len(byte_rows)
    if k == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter(
        (len(b) for b in byte_rows), dtype=np.int64, count=k
    )
    lmax = int(lens.max())
    width = max(8, ((lmax + 7) // 8) * 8)
    mat = np.zeros((k, width), dtype=np.uint8)
    for i, b in enumerate(byte_rows):
        if b:
            mat[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
    words = mat.view("<u8")  # (k, width/8) little-endian
    ulens = lens.astype(np.uint64)
    useed = np.uint64(seed)

    with np.errstate(over="ignore"):
        # --- 32-byte stripes (len >= 32), masked per stripe ---
        h = np.full(k, (seed + _P5) & _MASK, dtype=np.uint64)
        big = lens >= 32
        if big.any():
            v1 = np.full(k, (seed + _P1 + _P2) & _MASK, dtype=np.uint64)
            v2 = np.full(k, (seed + _P2) & _MASK, dtype=np.uint64)
            v3 = np.full(k, useed, dtype=np.uint64)
            v4 = np.full(k, (seed - _P1) & _MASK, dtype=np.uint64)
            n_stripes = width // 32
            for s in range(n_stripes):
                m = lens >= 32 * (s + 1)
                if not m.any():
                    break
                for lane, v in enumerate((v1, v2, v3, v4)):
                    w = words[:, s * 4 + lane]
                    nv = _rotl(
                        v + w * np.uint64(_P2), 31
                    ) * np.uint64(_P1)
                    v[m] = nv[m]
            hb = (
                _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
            )
            for v in (v1, v2, v3, v4):
                hb ^= _rotl(v * np.uint64(_P2), 31) * np.uint64(_P1)
                hb = hb * np.uint64(_P1) + np.uint64(_P4)
            h[big] = hb[big]
        h = h + ulens

        # --- remaining full 8-byte words (≤ 3 after the stripes) ---
        woff = (lens & -32).astype(np.int64)  # byte offset past stripes
        rows = np.arange(k)
        nwords = words.shape[1]
        for t in range(3):
            valid = woff + 8 * t + 8 <= lens
            if not valid.any():
                break
            wi = np.minimum(woff // 8 + t, nwords - 1)
            k1 = _rotl(words[rows, wi] * np.uint64(_P2), 31) * np.uint64(
                _P1
            )
            nh = _rotl(h ^ k1, 27) * np.uint64(_P1) + np.uint64(_P4)
            h[valid] = nh[valid]

        # --- one 4-byte word (len % 8 >= 4; offset len & ~7 is
        #     word-aligned, so it is the LOW half of that word) ---
        off4 = (lens & -8).astype(np.int64)
        has4 = off4 + 4 <= lens
        if has4.any():
            wi = np.minimum(off4 // 8, nwords - 1)
            u32 = words[rows, wi] & np.uint64(0xFFFFFFFF)
            nh = _rotl(h ^ (u32 * np.uint64(_P1)), 23) * np.uint64(
                _P2
            ) + np.uint64(_P3)
            h[has4] = nh[has4]

        # --- byte tail (≤ 3 bytes either way) ---
        bstart = np.where(has4, off4 + 4, off4)
        for j in range(3):
            pos = bstart + j
            valid = pos < lens
            if not valid.any():
                break
            bj = mat[rows, np.minimum(pos, width - 1)].astype(np.uint64)
            nh = _rotl(h ^ (bj * np.uint64(_P5)), 11) * np.uint64(_P1)
            h[valid] = nh[valid]

        # --- avalanche ---
        h ^= h >> np.uint64(33)
        h *= np.uint64(_P2)
        h ^= h >> np.uint64(29)
        h *= np.uint64(_P3)
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


def _shingle_hashes_flat(texts, n: int):
    """Shared vectorized front half of the signature/shingle-set UDFs:
    tokenize, distinct-token xxhash64 (padded byte matrix), and the
    flat ragged-range shingle fold (the ``shingle_hash_array``
    recurrence: ``acc·P + next_hash mod M31`` with 0 pads past the
    doc end, ``m = max(1, len−n+1)`` shingles per doc). Returns
    ``(tok_lists, acc, sh_offsets)`` — ``tok_lists`` aligned with
    ``texts`` (None for null docs), ``acc`` the flat int64 shingle
    hashes of the non-null docs, ``sh_offsets`` their per-doc starts —
    or ``(tok_lists, None, None)`` when every doc is null."""
    import numpy as np
    import pandas as pd

    tok_lists = [
        java_tokens(s) if isinstance(s, str) else None for s in texts
    ]
    docs = [t for t in tok_lists if t is not None]
    if not docs:
        return tok_lists, None, None
    flat = [w for t in docs for w in t]
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    uh64 = xxhash64_bytes([u.encode("utf-8") for u in uniques])
    m31 = np.int64(_MERSENNE_31)
    uh = uh64 % m31  # numpy floored mod == Spark pmod for b > 0
    h_flat = uh[codes]

    lens = np.fromiter((len(t) for t in docs), dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ends = offsets + lens
    m = np.maximum(1, lens - (n - 1))
    sh_offsets = np.concatenate(([0], np.cumsum(m)[:-1]))
    total = int(m.sum())
    # flat index of each shingle's first token hash
    pos = np.repeat(offsets, m) + (
        np.arange(total) - np.repeat(sh_offsets, m)
    )
    sh_ends = np.repeat(ends, m)
    acc = h_flat[pos].copy()
    prime = np.int64(_SHINGLE_PRIME)
    for j in range(1, n):
        idx = pos + j
        nxt = np.where(
            idx < sh_ends, h_flat[np.minimum(idx, len(h_flat) - 1)], 0
        )
        acc = (acc * prime + nxt) % m31
    return tok_lists, acc, sh_offsets


def minhash_signatures_batch(
    texts,
    shingle_len: int,
    coeffs: list[tuple[int, int]],
):
    """Signatures for one batch of texts (an iterable with None for
    null docs). Returns a list aligned with ``texts``: each element a
    list of ``len(coeffs)`` ints, or None for null text (the explode
    formulation drops null docs; callers filter).

    One ``minimum.reduceat`` per hash function over the flat shingle
    hashes. Distinctness of shingles is NOT applied — min over a
    multiset equals min over its support (the explode path dedups only
    to shrink its exchange, which this path does not have)."""
    import numpy as np

    tok_lists, acc, sh_offsets = _shingle_hashes_flat(texts, shingle_len)
    if acc is None:
        return [None] * len(tok_lists)
    m31 = np.int64(_MERSENNE_31)
    sig_cols = []
    for a, b in coeffs:
        v = (acc * np.int64(a) + np.int64(b)) % m31
        sig_cols.append(np.minimum.reduceat(v, sh_offsets))
    sig_mat = np.stack(sig_cols, axis=1)  # (docs, num_hashes)

    # rows ride out as int64 numpy views (Arrow list<int64> conversion
    # handles ndarray cells natively) — materializing Python int lists
    # costs num_docs × num_hashes object allocations per batch (r17:
    # measured ~15% of the signature stage at sf0.1, more at sf1)
    if len(tok_lists) == len(sig_mat):
        return list(sig_mat)
    out: list = []
    d = 0
    for t in tok_lists:
        if t is None:
            out.append(None)
        else:
            out.append(sig_mat[d])
            d += 1
    return out


def shingle_hash_sets_batch(texts, shingle_len: int):
    """DISTINCT shingle-hash sets for one batch of texts — the
    vectorized twin of ``array_distinct(shingle_hash_array(...))``
    (``verified_jaccard``'s per-candidate-doc set build): the same
    flat fold, then one per-doc ``np.unique``. Order within a set
    differs from the JVM array (sets — intersection/size consumers
    only); None for null docs."""
    import numpy as np

    tok_lists, acc, sh_offsets = _shingle_hashes_flat(texts, shingle_len)
    if acc is None:
        return [None] * len(tok_lists)
    bounds = list(sh_offsets[1:]) + [len(acc)]
    out: list = []
    d = 0
    for t in tok_lists:
        if t is None:
            out.append(None)
        else:
            lo = int(sh_offsets[d])
            hi = int(bounds[d])
            # int64 ndarray out (see minhash_signatures_batch) — the
            # distinct sets are the big payload of the verify stage
            out.append(np.unique(acc[lo:hi]))
            d += 1
    return out


def shingle_hash_array_udf(shingle_len: int) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>`` producing the
    ORDERED (non-distinct) rolling shingle-hash array — the vectorized
    twin of ``shingle_hash_array(tokens(text), n)`` (the in-row window
    hash ``duplicate_spans`` posexplodes per row on the interpreted
    HOF path): same token xxhash64, same ``acc·P + next mod M31``
    recurrence with 0 pads past the doc end, ``max(1, len−n+1)``
    hashes per doc, position order preserved. NULL text → NULL."""
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _arr(texts):
        tok_lists, acc, sh_offsets = _shingle_hashes_flat(
            texts, shingle_len
        )
        if acc is None:
            return pd.Series([None] * len(tok_lists))
        bounds = list(sh_offsets[1:]) + [len(acc)]
        out: list = []
        d = 0
        for t in tok_lists:
            if t is None:
                out.append(None)
            else:
                out.append(acc[int(sh_offsets[d]): int(bounds[d])])
                d += 1
        return pd.Series(out)

    return pandas_udf(_arr, "array<long>", PandasUDFType.SCALAR)


def minhash_signature_udf(
    shingle_len: int = 3, num_hashes: int = 32, seed: int = 42
) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>`` producing the
    EXACT signatures of ``minhash_signatures(base_hash='xxhash64')``
    (equivalence pytest-pinned on the documents corpus + hypothesis
    strings). NULL text → NULL signature (callers filter, matching the
    explode path's drop)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    coeffs = minhash_coeffs(num_hashes, seed)

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _sig(texts):
        return pd.Series(
            minhash_signatures_batch(texts, shingle_len, coeffs)
        )

    # asNondeterministic: callers filter on the signature (null drop),
    # and the optimizer otherwise pushes that filter below a COPY of
    # the UDF — two ArrowEvalPython nodes computing every signature
    # twice (guide §4.4; verified in the r17 plans). The kernel IS
    # deterministic — this is purely the no-duplication hint.
    return pandas_udf(
        _sig, "array<long>", PandasUDFType.SCALAR
    ).asNondeterministic()


def poly31_batch(strings):
    """Vectorized twin of ``functions.columns.poly_hash31``: the 31-bit
    polynomial fold ``acc = (acc*31 + codepoint) mod M31`` over each
    string's characters (Spark ``ascii`` on a 1-char string is the code
    point — probed live incl. supplementary planes). Returns
    ``(hashes int64 ndarray, null_mask bool ndarray)`` aligned with the
    input.

    Shape: one utf-32 decode of the batch's concatenated chars, one
    positional-power Horner product (``h = Σ c_k·31^(L−1−k) mod M31``
    — precomputed power table, so no per-char Python), one
    ``add.reduceat`` per batch. Exact: codepoint·31^j mod M31 <
    2^21·2^31 = 2^52 and per-string sums < len·2^31 — int64-safe.
    """
    import numpy as np

    k = len(strings)
    null_mask = np.fromiter(
        (not isinstance(s, str) for s in strings), dtype=bool, count=k
    )
    h = np.zeros(k, dtype=np.int64)
    ss = [s for s in strings if isinstance(s, str)]
    if not ss:
        return h, null_mask
    lens = np.fromiter((len(s) for s in ss), dtype=np.int64, count=len(ss))
    total = int(lens.sum())
    if total == 0:
        return h, null_mask
    codes = np.frombuffer(
        "".join(ss).encode("utf-32-le"), dtype="<u4"
    ).astype(np.int64)
    m31 = np.int64(_MERSENNE_31)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    maxlen = int(lens.max())
    pow31 = np.empty(maxlen, dtype=np.int64)
    pow31[0] = 1
    for j in range(1, maxlen):
        pow31[j] = (pow31[j - 1] * 31) % _MERSENNE_31
    # exponent of char k in string i: (end_i - 1) - k
    exp = np.repeat(offsets + lens, lens) - 1 - np.arange(total)
    prod = (codes * pow31[exp]) % m31
    nz = lens > 0
    hv = np.zeros(len(ss), dtype=np.int64)
    if nz.any():
        hv[nz] = np.add.reduceat(prod, offsets[nz]) % m31
    h[~null_mask] = hv
    return h, null_mask


def poly31_hash_udf() -> "callable":
    """Arrow-batched pandas UDF ``string -> long`` producing the EXACT
    values of ``poly_hash31`` (parity pytest incl. unicode/empty/null).
    NULL in → NULL out. This is the corpus-scan backend of the "poly"
    (oracle-replayable) hash profile — the Column form is an
    interpreted per-char HOF fold (~2.2 µs/row) that dominated every
    sketch build (r17, guide §4)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _poly(texts):
        h, null_mask = poly31_batch(texts)
        out = pd.Series(h, dtype="Int64")
        if null_mask.any():
            out[null_mask] = None
        return out

    return pandas_udf(_poly, "long", PandasUDFType.SCALAR)


def _poly_token_hashes_flat(texts):
    """Shared tokenize+hash front half of the POLY-profile kernels:
    Java-semantics tokens per doc, distinct-token poly31 hashes
    (:func:`poly31_batch` over the factorized uniques) and per-token
    character lengths. Returns ``(tok_lists, h_flat, len_flat, lens,
    offsets)`` — ``tok_lists`` aligned with ``texts`` (None for null
    docs), the rest describing the flat token stream of the non-null
    docs — or ``(tok_lists, None, None, None, None)`` when every doc
    is null."""
    import numpy as np
    import pandas as pd

    tok_lists = [
        java_tokens(s) if isinstance(s, str) else None for s in texts
    ]
    docs = [t for t in tok_lists if t is not None]
    if not docs:
        return tok_lists, None, None, None, None
    flat = [w for t in docs for w in t]
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    uh, _ = poly31_batch(list(uniques))
    ulen = np.fromiter((len(u) for u in uniques), dtype=np.int64,
                       count=len(uniques))
    h_flat = uh[codes]
    len_flat = ulen[codes]
    lens = np.fromiter((len(t) for t in docs), dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
    return tok_lists, h_flat, len_flat, lens, offsets


def poly_word_shingle_hashes_flat(texts, n: int, floor_one: bool):
    """Flat per-shingle POLY31 hashes of each doc's space-joined word
    n-grams — the vectorized twin of ``poly_hash31(word_shingles(
    tokens(text), n))`` (``floor_one=True``: texts shorter than ``n``
    tokens yield ONE whole-text shingle, the :func:`word_shingles`
    rule) and of ``poly_hash31(_dsir_bigrams(text))`` (``n=2``,
    ``floor_one=False``: < 2 tokens → zero bigrams).

    No shingle strings are materialized: poly is positional, so
    ``poly(a + " " + b) = (poly(a)·31^(len(b)+1) + 32·31^len(b) +
    poly(b)) mod M31`` — each shingle hash is an exact int64-safe
    combination of the PRE-HASHED token stream (products < 2^62).
    Returns ``(tok_lists, acc, sh_offsets, m)``: flat shingle hashes,
    per-doc starts and shingle counts for the non-null docs."""
    import numpy as np

    tok_lists, h_flat, len_flat, lens, offsets = _poly_token_hashes_flat(
        texts
    )
    if h_flat is None:
        return tok_lists, None, None, None
    m31 = np.int64(_MERSENNE_31)
    if floor_one:
        m = np.maximum(1, lens - (n - 1))
        widths = np.minimum(lens, n)
    else:
        m = np.maximum(0, lens - (n - 1))
        widths = np.full(len(lens), n, dtype=np.int64)
    sh_offsets = np.concatenate(([0], np.cumsum(m)[:-1]))
    total = int(m.sum())
    if total == 0:
        return tok_lists, np.empty(0, dtype=np.int64), sh_offsets, m
    maxlen = int(len_flat.max()) if len(len_flat) else 0
    pow31 = np.empty(maxlen + 2, dtype=np.int64)
    pow31[0] = 1
    for j in range(1, maxlen + 2):
        pow31[j] = (pow31[j - 1] * 31) % _MERSENNE_31
    pos = np.repeat(offsets, m) + (
        np.arange(total) - np.repeat(sh_offsets, m)
    )
    sh_width = np.repeat(widths, m)
    acc = h_flat[pos].copy()
    for j in range(1, n):
        valid = j < sh_width
        if not valid.any():
            break
        idx = np.minimum(pos + j, len(h_flat) - 1)
        tl = len_flat[idx]
        nxt = (
            (acc * pow31[tl + 1]) % m31
            + np.int64(32) * pow31[tl]
            + h_flat[idx]
        ) % m31
        acc = np.where(valid, nxt, acc)
    return tok_lists, acc, sh_offsets, m


def minhash_signature_poly_udf(
    shingle_len: int = 3, num_hashes: int = 32, seed: int = 42
) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>`` producing the
    EXACT signatures of ``minhash_signatures(base_hash='poly')`` — the
    SQL-oracle-replayable profile, whose JVM form runs the poly char
    fold per shingle inside an interpreted ``transform`` lambda
    (equivalence pytest-pinned). NULL text → NULL signature."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    coeffs = minhash_coeffs(num_hashes, seed)

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _sig(texts):
        # word_shingles treats NULL text exactly like "" (its _let
        # wrapper + concat_ws's null-swallowing yield the single empty
        # shingle [""]), so the poly profile KEEPS null-text docs —
        # unlike the xxhash64/shingle_hash_array profile (live-pinned)
        texts = [t if isinstance(t, str) else "" for t in texts]
        tok_lists, acc, sh_offsets, _m = poly_word_shingle_hashes_flat(
            texts, shingle_len, floor_one=True
        )
        if acc is None:  # empty batch
            return pd.Series([], dtype=object)
        m31 = np.int64(_MERSENNE_31)
        sig_cols = []
        for a, b in coeffs:
            v = (acc * np.int64(a) + np.int64(b)) % m31
            sig_cols.append(np.minimum.reduceat(v, sh_offsets))
        sig_mat = np.stack(sig_cols, axis=1)
        return pd.Series(list(sig_mat))

    # asNondeterministic: see minhash_signature_udf (guide §4.4 —
    # callers' null-drop filter otherwise duplicates the kernel)
    return pandas_udf(
        _sig, "array<long>", PandasUDFType.SCALAR
    ).asNondeterministic()


def dsir_bucket_udf(buckets: int) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>``: each doc's
    hashed-bigram DSIR buckets ``pmod(poly31(bigram), buckets)`` in
    bigram order — the multiset ``dsir_bucket_counts`` aggregates
    (bit-exact with the explode+``poly_hash31`` path; count aggregation
    is order-insensitive). NULL text → NULL; < 2 tokens → empty."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    def _buckets(texts):
        tok_lists, acc, sh_offsets, m = poly_word_shingle_hashes_flat(
            texts, 2, floor_one=False
        )
        if acc is None:
            return pd.Series([None] * len(tok_lists))
        b = acc % np.int64(buckets)
        bounds = np.concatenate((sh_offsets, [len(b)]))
        out: list = []
        d = 0
        for t in tok_lists:
            if t is None:
                out.append(None)
            else:
                out.append(b[int(bounds[d]): int(bounds[d + 1])])
                d += 1
        return pd.Series(out)

    return pandas_udf(_buckets, "array<long>", PandasUDFType.SCALAR)


def dsir_score_udf(lr_ints: list[int], buckets: int) -> "callable":
    """Arrow-batched pandas UDF ``text -> long``: the DSIR fixed-point
    log-importance score ``Σ_bigram lr[bucket(bigram)]`` against the
    per-bucket log-ratio literal table — the vectorized twin of the
    interpreted ``F.aggregate`` fold ``sampling._dsir_score_fold``
    (bit-exact: same poly31 buckets, same int64 sums). NULL text →
    NULL (callers coalesce to 0, matching the JVM plan)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    lr = np.asarray(lr_ints, dtype=np.int64)

    def _score(texts):
        tok_lists, acc, sh_offsets, m = poly_word_shingle_hashes_flat(
            texts, 2, floor_one=False
        )
        if acc is None:
            return pd.Series([None] * len(tok_lists), dtype="Int64")
        contrib = lr[acc % np.int64(buckets)]
        scores = np.zeros(len(m), dtype=np.int64)
        nz = m > 0
        if nz.any():
            scores[nz] = np.add.reduceat(contrib, sh_offsets[nz])
        out = np.zeros(len(tok_lists), dtype=np.int64)
        null_mask = np.zeros(len(tok_lists), dtype=bool)
        d = 0
        for i, t in enumerate(tok_lists):
            if t is None:
                null_mask[i] = True
            else:
                out[i] = scores[d]
                d += 1
        res = pd.Series(out, dtype="Int64")
        if null_mask.any():
            res[null_mask] = None
        return res

    return pandas_udf(_score, "long", PandasUDFType.SCALAR)


def _int_vec_rows(series):
    """Normalize an Arrow ``array<long>`` batch column to a list of
    int64 ndarrays (None preserved). Shared by the exact-integer
    vector kernels below.

    NULL ELEMENTS (r18, the _int_gram advice-fix class): pandas
    delivers an ``array<long>`` containing NULL elements as float64
    with NaN (or an object array with None) — casting that to int64
    silently yields garbage (-2^63). In every JVM twin a NULL element
    nulls the whole fold's result (zip_with product NULL → aggregate
    NULL; least of all-NULL encs NULL), so a null-bearing row maps to
    ``None`` here, which each kernel already emits as NULL."""
    import numpy as np

    out = []
    for v in series:
        if v is None:
            out.append(None)
            continue
        a = np.asarray(v)
        if a.dtype.kind == "f":
            if np.isnan(a).any():
                out.append(None)
                continue
            out.append(a.astype(np.int64))
        elif a.dtype == object:
            if any(e is None for e in v):
                out.append(None)
                continue
            out.append(np.asarray([int(e) for e in v], dtype=np.int64))
        else:
            out.append(a.astype(np.int64, copy=False))
    return out


def _int_vec_series(values, null_mask):
    """int64 ndarray + bool mask → nullable Int64 pandas Series."""
    import pandas as pd

    s = pd.Series(values, dtype="Int64")
    if null_mask is not None and null_mask.any():
        s[null_mask] = None
    return s


def int_dot_udf() -> "callable":
    """Arrow-batched pandas UDF ``(array<long>, array<long>) -> long``:
    the EXACT integer dot product ``Σ u_i·v_i`` — the vectorized twin
    of the interpreted ``aggregate(zip_with(u, v, *), 0, +)`` HOF that
    dominates every per-pair quantized-cosine verification (r17, guide
    §4: ~3-4 µs per 64-dim pair interpreted). Bit-exact: numpy int64
    wraps like a JVM long, and wrapping addition is order-independent.
    NULL (either side) or length-mismatched rows → NULL, matching
    ``zip_with``'s null padding."""
    import numpy as np
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _dot(u, v):
        uu = _int_vec_rows(u)
        vv = _int_vec_rows(v)
        k = len(uu)
        out = np.zeros(k, dtype=np.int64)
        null_mask = np.zeros(k, dtype=bool)
        # rectangular fast path: every valid pair shares one dim
        dims = {
            (len(a), len(b))
            for a, b in zip(uu, vv)
            if a is not None and b is not None
        }
        with np.errstate(over="ignore"):
            if len(dims) == 1 and next(iter(dims))[0] == next(
                iter(dims)
            )[1]:
                valid = np.fromiter(
                    (a is not None and b is not None
                     for a, b in zip(uu, vv)),
                    dtype=bool, count=k,
                )
                if valid.any():
                    um = np.stack([a for a in uu if a is not None])
                    vm = np.stack([b for b in vv if b is not None])
                    out[valid] = np.einsum("ij,ij->i", um, vm)
                null_mask = ~valid
            else:
                for i, (a, b) in enumerate(zip(uu, vv)):
                    if a is None or b is None or len(a) != len(b):
                        null_mask[i] = True
                    else:
                        out[i] = int(np.dot(a, b))
        return _int_vec_series(out, null_mask)

    return pandas_udf(_dot, "long", PandasUDFType.SCALAR)


def int_dot_const_udf(vec: list[int]) -> "callable":
    """Arrow-batched pandas UDF ``array<long> -> long``: exact integer
    dot with a CONSTANT vector riding the closure — the kernel form of
    ``aggregate(zip_with(col, array(<lits>), *), 0, +)`` (power-
    iteration projections, stored-state × query-vector scoring). NULL
    or length-mismatched rows → NULL."""
    import numpy as np
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    c = np.asarray(vec, dtype=np.int64)

    def _dot(u):
        uu = _int_vec_rows(u)
        k = len(uu)
        out = np.zeros(k, dtype=np.int64)
        null_mask = np.zeros(k, dtype=bool)
        valid = np.fromiter(
            (a is not None and len(a) == len(c) for a in uu),
            dtype=bool, count=k,
        )
        with np.errstate(over="ignore"):
            if valid.any():
                um = np.stack([a for a, ok in zip(uu, valid) if ok])
                out[valid] = um @ c
        null_mask = ~valid
        return _int_vec_series(out, null_mask)

    return pandas_udf(_dot, "long", PandasUDFType.SCALAR)


def nearest_centroid_enc_udf(
    centroids: list[list[int]], k: int
) -> "callable":
    """Arrow-batched pandas UDF ``array<long> -> long``: the quantized
    k-means argmin-with-tie-encoding ``least_cid(dist²(v, c_cid)·k +
    cid)`` over CONSTANT integer centroids — the kernel form of
    ``kmeans_enc_expr`` (whose JVM form runs one interpreted
    zip_with/aggregate fold PER CENTROID per row). Bit-exact: the
    squared distance is computed in the direct ``Σ(a−b)²`` form (one
    vectorized pass per centroid), numpy int64 wrapping like a JVM
    long. Encodings are unique per cid (enc ≡ cid mod k), so ``min``
    equals ``F.least``. NULL / length-mismatched rows → NULL (the JVM
    ``least`` of all-NULL encs)."""
    import numpy as np
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    cm = [np.asarray(c, dtype=np.int64) for c in centroids]
    kk = np.int64(k)

    def _enc(v):
        vv = _int_vec_rows(v)
        n = len(vv)
        out = np.zeros(n, dtype=np.int64)
        null_mask = np.zeros(n, dtype=bool)
        dim = len(cm[0]) if cm else 0
        valid = np.fromiter(
            (a is not None and len(a) == dim for a in vv),
            dtype=bool, count=n,
        )
        with np.errstate(over="ignore"):
            if valid.any():
                vm = np.stack([a for a, ok in zip(vv, valid) if ok])
                best = None
                for cid, c in enumerate(cm):
                    diff = vm - c
                    enc = (
                        np.einsum("ij,ij->i", diff, diff) * kk
                        + np.int64(cid)
                    )
                    best = enc if best is None else np.minimum(best, enc)
                out[valid] = best
        null_mask = ~valid
        return _int_vec_series(out, null_mask)

    return pandas_udf(_enc, "long", PandasUDFType.SCALAR)


def hashed_bucket_set_udf(buckets: int) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>``: each doc's
    DISTINCT hashed-token feature buckets — the vectorized twin of
    ``array_distinct(transform(filter(tokens, t != ''),
    pmod(poly31(t), buckets)))`` (the classifier's presence-feature
    build, whose JVM form runs the poly char fold per token inside an
    interpreted ``transform``). First-occurrence order like
    ``array_distinct`` (consumers sum/explode — order-insensitive).
    NULL text → NULL; empty/whitespace text → empty array."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    b = np.int64(buckets)

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _sets(texts):
        tok_lists = [
            [w for w in java_tokens(s) if w != ""]
            if isinstance(s, str)
            else None
            for s in texts
        ]
        docs = [t for t in tok_lists if t is not None]
        out: list = []
        if not docs:
            return pd.Series([None] * len(tok_lists))
        flat = [w for t in docs for w in t]
        if flat:
            codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
            uh, _ = poly31_batch(list(uniques))
            ub = uh % b
            flat_b = ub[codes]
        else:
            flat_b = np.empty(0, dtype=np.int64)
        pos = 0
        for t in tok_lists:
            if t is None:
                out.append(None)
                continue
            k = len(t)
            out.append(
                np.fromiter(
                    dict.fromkeys(flat_b[pos: pos + k].tolist()),
                    dtype=np.int64,
                )
            )
            pos += k
        return pd.Series(out)

    return pandas_udf(_sets, "array<long>", PandasUDFType.SCALAR)


def _float_mat(series):
    """Rectangular float64 matrix of an Arrow ``array<numeric>`` batch
    column (callers guarantee fixed dim and no nulls — the SRP/cosine
    paths). float32 inputs widen exactly, like Spark's
    ``cast("double")``."""
    import numpy as np

    return np.array(series.tolist(), dtype=np.float64)


def _ordered_dot(um, vm):
    """Left-to-right IEEE754 dot product of two (n × dim) float64
    matrices — bit-exact with the JVM ``aggregate(zip_with(u, v, x*y),
    0.0, acc+x)`` fold: per element one rounded multiply then one
    rounded add, in array order (each numpy column op is a single
    IEEE-rounded ufunc — no FMA, no pairwise/blocked summation, unlike
    einsum/np.dot)."""
    import numpy as np

    acc = np.zeros(um.shape[0], dtype=np.float64)
    for j in range(um.shape[1]):
        acc = acc + um[:, j] * vm[:, j]
    return acc


def float_dot_ordered_udf() -> "callable":
    """Arrow-batched pandas UDF ``(array<numeric>, array<numeric>) ->
    double``: the EXACT left-to-right double dot product of
    ``functions.columns.dot_product`` (the SQL-oracle-replayable
    summation order), vectorized per Arrow batch — unlike
    ``_arrow_cosine``'s einsum, whose blocked summation differs in the
    last float bits. For the oracle-pinned float cosine verifies."""
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _dot(u, v):
        if len(u) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(_ordered_dot(_float_mat(u), _float_mat(v)))

    # asNondeterministic: the verification cosine built on this dot is
    # FILTERED (>= threshold), and pushdown otherwise copies the UDF
    # below the filter — two evaluations per pair (guide §4.4)
    return pandas_udf(
        _dot, "double", PandasUDFType.SCALAR
    ).asNondeterministic()


def float_dots_ordered_const_udf(vecs: list[list[float]]) -> "callable":
    """Arrow-batched pandas UDF ``array<numeric> -> array<double>``:
    one LEFT-TO-RIGHT ordered dot per CONSTANT vector (the seed list
    rides the closure) — the bit-exact kernel form of
    ``semantic_dedup``'s per-seed assignment dots, whose interpreted
    form runs one fold per seed per row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    cm = [np.asarray(v, dtype=np.float64) for v in vecs]

    def _dots(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        vm = _float_mat(v)
        cols = [_ordered_dot(vm, np.broadcast_to(c, vm.shape)) for c in cm]
        return pd.Series(list(np.stack(cols, axis=1)))

    return pandas_udf(_dots, "array<double>", PandasUDFType.SCALAR)


def srp_band_keys_udf(
    planes: list[list[float]], num_bands: int, bits_per_band: int, exact: bool
) -> "callable":
    """Arrow-batched pandas UDF ``array<numeric> -> array<long>``: the
    SRP-LSH band keys of ``embedding_near_dups``. Each band key packs
    its plane-sign bits as ``band_offset + Σ 1<<r`` in int64, over one
    (n × planes) projection per batch:

    - ``exact=False``: ``V @ P.T`` — one BLAS matmul, the scale path;
      its blocked summation can move a plane dot by an ulp, so a dot
      landing exactly on 0.0 may take the other sign (a measure-zero
      recall difference).
    - ``exact=True``: the left-to-right ordered fold of
      ``functions.columns.dot_product`` (one rounded multiply and one
      rounded add per dimension, array order), so every ``>= 0`` sign
      decision matches the SQL oracle bit for bit. All planes
      accumulate per dimension at once."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    P = np.asarray(planes, dtype=np.float64)  # (bands*bits, dim)
    weights = 1 << np.arange(bits_per_band, dtype=np.int64)
    offsets = np.arange(num_bands, dtype=np.int64) << bits_per_band

    def _keys(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        vm = _float_mat(v)
        if exact:
            proj = np.zeros((vm.shape[0], P.shape[0]), dtype=np.float64)
            for d in range(vm.shape[1]):
                proj = proj + vm[:, d:d + 1] * P[:, d]
        else:
            proj = vm @ P.T
        bits = proj >= 0.0
        keys = (
            bits.reshape(len(vm), num_bands, bits_per_band) @ weights
        ) + offsets  # (n, bands)
        return pd.Series(list(keys))

    return pandas_udf(_keys, "array<long>", PandasUDFType.SCALAR)


def word_shingle_set_udf(shingle_len: int = 3) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<string>`` producing each
    doc's DISTINCT word-shingle strings — the vectorized twin of
    ``array_distinct(word_shingles(tokens(text), n))`` (the string-
    shingle build ``verified_jaccard`` runs per candidate doc on the
    poly/SQL-oracle profile, where the JVM path pays an interpreted
    ``transform``+``concat_ws`` per position). Same first-occurrence
    order as ``array_distinct``; consumers are set ops
    (intersect/size). NULL text behaves like "" — the single empty
    shingle (``word_shingles``'s live-pinned rule: its _let wrapper +
    concat_ws's null-swallowing never yield NULL)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _sets(texts):
        out: list = []
        for s in texts:
            t = java_tokens(s if isinstance(s, str) else "")
            nsh = max(1, len(t) - (shingle_len - 1))
            out.append(
                list(
                    dict.fromkeys(
                        " ".join(t[i: i + shingle_len])
                        for i in range(nsh)
                    )
                )
            )
        return pd.Series(out)

    return pandas_udf(_sets, "array<string>", PandasUDFType.SCALAR)


def bloom_candidate_shingles_udf(
    bitmap: list[int],
    shingle_len: int,
    m_bits: int,
    coeffs: list[tuple[int, int]],
    hash_fn: str,
) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<string>``: each doc's
    DISTINCT word shingles that pass the Bloom bitmap — the vectorized
    phase-1 prefilter of ``bloom_flag_with_bitmap`` (bit-exact: same
    ``word_shingles`` rule incl. the <n-token whole-text shingle, same
    31-bit hash (xxhash64-pmod or poly31), same universal-family bit
    positions; first-occurrence order like ``filter(array_distinct(…))``,
    though consumers explode into an equi-join). The bitmap rides the
    CLOSURE (serialized once per task set) instead of a broadcast row —
    at the 2^20-bit default that is 128 KiB. NULL text behaves like ""
    (word_shingles's live-pinned rule): its single empty shingle still
    probes the bitmap, exactly like the JVM expression."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    bm = np.asarray(bitmap, dtype=np.int64).view(np.uint64)
    m31 = np.int64(_MERSENNE_31)

    def _cands(texts):
        doc_shingles: list = []
        flat: list[str] = []
        for s in texts:
            # NULL text behaves like "" (word_shingles's live-pinned
            # rule) — its single empty shingle still probes the bitmap
            t = java_tokens(s if isinstance(s, str) else "")
            nsh = max(1, len(t) - (shingle_len - 1))
            sh = list(
                dict.fromkeys(
                    " ".join(t[i: i + shingle_len]) for i in range(nsh)
                )
            )
            doc_shingles.append(sh)
            flat.extend(sh)
        if not flat:
            return pd.Series(doc_shingles)
        if hash_fn == "poly":
            h, _ = poly31_batch(flat)
        else:
            h = xxhash64_bytes([s.encode("utf-8") for s in flat]) % m31
        member = np.ones(len(flat), dtype=bool)
        for a, b in coeffs:
            p = (h * np.int64(a) + np.int64(b)) % m31 % np.int64(m_bits)
            member &= ((bm[p >> 6] >> (p & 63).astype(np.uint64))
                       & np.uint64(1)).astype(bool)
        out: list = []
        d = 0
        for sh in doc_shingles:
            if sh is None:
                out.append(None)
            else:
                k = len(sh)
                out.append(
                    [s for s, keep in zip(sh, member[d: d + k]) if keep]
                )
                d += k
        return pd.Series(out)

    # asNondeterministic: the caller filters size(__cand) > 0, which
    # the optimizer otherwise pushes below a COPY of the UDF — the
    # whole tokenize+hash+membership pass ran twice per doc (guide
    # §4.4; verified in the r17 xdecontaminate_bloom plan).
    return pandas_udf(
        _cands, "array<string>", PandasUDFType.SCALAR
    ).asNondeterministic()


def bloom_positions_udf(
    shingle_len: int,
    m_bits: int,
    coeffs: list[tuple[int, int]],
    hash_fn: str,
) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>``: each doc's
    DISTINCT Bloom bit positions — the vectorized BUILD side of
    ``decontaminate.bloom_build`` (r18). Same tokenize→shingle→31-bit
    hash (xxhash64-pmod or poly31) → universal-family position math as
    :func:`bloom_candidate_shingles_udf`'s membership probe, so the
    collected position set — and hence the bitmap — is bit-identical
    to the JVM expression chain (twin pytest). NULL text behaves like
    "" (word_shingles's live-pinned rule)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    m31 = np.int64(_MERSENNE_31)

    def _pos(texts):
        doc_counts: list[int] = []
        flat: list[str] = []
        for s in texts:
            t = java_tokens(s if isinstance(s, str) else "")
            nsh = max(1, len(t) - (shingle_len - 1))
            sh = list(
                dict.fromkeys(
                    " ".join(t[i: i + shingle_len]) for i in range(nsh)
                )
            )
            doc_counts.append(len(sh))
            flat.extend(sh)
        if not flat:
            return pd.Series([[] for _ in doc_counts])
        if hash_fn == "poly":
            h, _ = poly31_batch(flat)
        else:
            h = xxhash64_bytes([s.encode("utf-8") for s in flat]) % m31
        ps = [
            (h * np.int64(a) + np.int64(b)) % m31 % np.int64(m_bits)
            for a, b in coeffs
        ]
        P = np.stack(ps, axis=1)  # (n_shingles, k_hashes)
        out: list = []
        d = 0
        for k in doc_counts:
            out.append(
                np.unique(P[d: d + k].reshape(-1)).tolist() if k else []
            )
            d += k
        return pd.Series(out)

    return pandas_udf(_pos, "array<long>", PandasUDFType.SCALAR)


def shingle_hash_set_udf(shingle_len: int = 3) -> "callable":
    """Arrow-batched pandas UDF ``text -> array<long>`` producing each
    doc's DISTINCT shingle-hash set — value-identical (as a set) to
    ``array_distinct(shingle_hash_array(tokens(text), n))``, the
    build ``verified_jaccard`` runs per candidate doc on the
    interpreted HOF path. NULL text → NULL."""
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _sets(texts):
        return pd.Series(shingle_hash_sets_batch(texts, shingle_len))

    return pandas_udf(_sets, "array<long>", PandasUDFType.SCALAR)
