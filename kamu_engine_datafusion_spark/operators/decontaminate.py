"""Benchmark decontamination: flag training documents that share n-gram
shingles with an evaluation/benchmark set.

Standard practice before training on web-scale corpora: any document
containing a long-enough n-gram from the eval set is contaminated and
must be dropped (or have the span excised). Expressed as a
shingle-overlap join:

- benchmark → distinct shingles (a SMALL set → broadcast);
- corpus → exploded distinct shingles → broadcast semi-join → overlap
  count per document.

Scale: the corpus side is a scan + explode with a broadcast hash join —
no shuffle of the corpus; the only state is the benchmark shingle set
(millions of shingles ≈ tens of MB broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import tokens, word_shingles


def flag_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: int = 1,
) -> DataFrame:
    """Per-corpus-document overlap with the benchmark shingle set.

    Returns ``(id_col, n_overlaps, contaminated)`` where ``n_overlaps``
    counts distinct shared shingles and ``contaminated`` is
    ``n_overlaps >= threshold``.
    """
    bench_shingles = F.broadcast(
        benchmark.select(
            F.explode(
                F.array_distinct(word_shingles(tokens(text_col), shingle_len))
            ).alias("__sh")
        ).distinct()
    )
    corpus_shingles = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array_distinct(word_shingles(tokens(text_col), shingle_len))
        ).alias("__sh"),
    )
    overlaps = (
        corpus_shingles.join(bench_shingles, "__sh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(overlaps, corpus[id_col] == overlaps["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_overlaps"), F.lit(0)).cast("long").alias(
                "n_overlaps"
            ),
            (F.coalesce(F.col("n_overlaps"), F.lit(0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


def fuzzy_flag_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_len: int = 3,
    num_hashes: int = 16,
    num_bands: int = 4,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Fuzzy (near-duplicate) benchmark decontamination: flag corpus
    documents whose MinHash-estimated shingle Jaccard to ANY benchmark
    document clears ``threshold`` — catches paraphrased/reformatted
    eval leakage the exact n-gram overlap of :func:`flag_contaminated`
    misses.

    Pipeline: MinHash signatures on both sides (the corpus side is the
    same signature stage the LSH dedup family uses), banded LSH keys,
    and a BROADCAST equi-join on the band key (the benchmark side is
    small by definition), then the signature-agreement estimate.

    Returns ``(id_col, max_est, contaminated)`` for every corpus doc.

    Scale: the corpus never shuffles for the probe — signatures are one
    explode→groupBy (the shuffle carries num_hashes longs per doc), the
    banded benchmark broadcasts, and the estimate is in-row zip_with.
    ``base_hash="poly"`` swaps in the SQL-expressible polynomial hash,
    enabling the full cross-engine oracle.
    """
    from kamu_engine_datafusion_spark.operators.dedup import (
        _banded_sigs,
        estimated_jaccard,
        minhash_signatures,
    )

    rows_per_band = num_hashes // num_bands
    sig_c = minhash_signatures(
        corpus, text_col, id_col, shingle_len, num_hashes, base_hash=base_hash
    )
    sig_b = minhash_signatures(
        benchmark, text_col, id_col, shingle_len, num_hashes,
        base_hash=base_hash,
    )
    band_c = _banded_sigs(sig_c, num_bands, rows_per_band, base_hash)
    band_b = F.broadcast(
        _banded_sigs(sig_b, num_bands, rows_per_band, base_hash).select(
            F.col("__id").alias("__bid"),
            F.col("__sig").alias("__bsig"),
            "__band",
        )
    )
    hits = (
        band_c.join(band_b, "__band")
        .select(
            "__id",
            estimated_jaccard(
                F.col("__sig"), F.col("__bsig"), num_hashes
            ).alias("__est"),
        )
        .groupBy("__id")
        .agg(F.max("__est").alias("max_est"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(hits, corpus[id_col] == hits["__id"], "left")
        .select(
            F.col(id_col),
            F.round(F.coalesce(F.col("max_est"), F.lit(0.0)), 6).alias(
                "max_est"
            ),
            (F.coalesce(F.col("max_est"), F.lit(0.0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


def ngram_novelty(
    corpus: DataFrame,
    reference: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document NOVELTY against a reference corpus: the fraction of
    the document's word n-grams never seen in ``reference`` — the
    memorization/overlap metric a curation pipeline reports alongside
    decontamination (which *drops*; this *measures*). Low novelty means
    the doc mostly restates reference material; 1.0 means fully novel.

    Returns ``(id_col, *keep_cols, n_ngrams, n_novel, novelty)``;
    ``novelty`` is half-up 4dp, and a doc with fewer than ``n`` tokens
    (zero n-grams) scores 1.0 by convention. N-grams are counted with
    multiplicity (a repeated known phrase counts each time), tokens are
    lowercased whitespace words — both exactly reproducible in SQL.

    Scale: reference → distinct n-grams (benchmark-sized → broadcast);
    corpus → explode + broadcast left join + partial-agg groupBy on the
    id (the shuffle carries one pre-aggregated row per doc). No corpus
    self-join, no window.
    """
    keep_cols = keep_cols or []

    def grams(c) -> F.Column:
        from kamu_engine_datafusion_spark.functions.columns import _let

        t = F.split(F.trim(F.lower(c)), r"\s+")
        if n == 2:
            n1 = F.greatest(F.size(t) - 1, F.lit(0))
            return F.zip_with(
                F.slice(t, 1, n1),
                F.slice(t, 2, n1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        # general n: let-bind the token array (HOF lambdas re-evaluate
        # outer expressions per element — SCALE.md r9). Guarded: a doc
        # with fewer than n tokens has ZERO n-grams — without the
        # when(), sequence(1, size-(n-1)) with size<n produces a
        # DESCENDING [1, 0] and slice(tv, 0, n) throws
        # INVALID_PARAMETER_VALUE.START at runtime.
        return _let(
            t,
            lambda tv: F.when(
                F.size(tv) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(tv) - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(tv, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )

    ref = F.broadcast(
        reference.select(F.explode(grams(F.col(text_col))).alias("__ng"))
        .distinct()
        .withColumn("__known", F.lit(1))
    )
    doc_ng = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(grams(F.col(text_col))).alias("__ng"),
    )
    per_doc = (
        doc_ng.join(ref, "__ng", "left")
        .groupBy("__id")
        .agg(
            F.count(F.col("__ng")).cast("long").alias("n_ngrams"),
            F.sum(
                F.when(
                    F.col("__ng").isNotNull() & F.col("__known").isNull(), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    novelty = F.when(F.col("n_ngrams") == 0, F.lit(1.0)).otherwise(
        F.floor(F.col("n_novel") / F.col("n_ngrams") * 10000 + F.lit(0.5))
        / 10000
    )
    return (
        corpus.select(F.col(id_col), *keep_cols)
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            F.col(id_col),
            *keep_cols,
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            novelty.alias("novelty"),
        )
    )


def bloom_build(
    benchmark: DataFrame,
    text_col: str = "text",
    shingle_len: int = 3,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 17,
    hash_fn: str = "xxhash64",
) -> list[int]:
    """Build a Bloom-filter bitmap over the benchmark's distinct
    shingles: a python list of ``m_bits/64`` longs (driver-side —
    bounded by the BENCHMARK, the small side by the same contract as
    :func:`flag_contaminated`'s broadcast set). Bit positions are the
    MinHash universal family over the 31-bit poly hash, so an oracle
    can rebuild the exact bitmap in SQL.

    Size by the standard fpr ≈ (1 − e^{−k·n/m})^k: the 2^20-bit
    default holds ~100k shingles at k=4 under ~1% fpr in 128 KiB —
    orders of magnitude below broadcasting the shingle strings.
    """
    from kamu_engine_datafusion_spark.functions.columns import (
        minhash_coeffs,
    )

    pos = _bloom_positions(
        benchmark, text_col, shingle_len, m_bits,
        minhash_coeffs(k_hashes, seed), hash_fn,
    )
    bitmap = [0] * ((m_bits + 63) // 64)
    for r in pos.collect():
        p = int(r["__p"])
        bitmap[p >> 6] |= 1 << (p & 63)
    # bit 63 pushes a python int past the signed 64-bit range a JVM
    # long literal can hold — store the two's-complement view (getbit
    # reads the raw bits either way)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in bitmap]


def _bloom_positions(
    df: DataFrame,
    text_col: str,
    shingle_len: int,
    m_bits: int,
    coeffs: list,
    hash_fn: str,
) -> DataFrame:
    """The distinct Bloom bit positions ``(__p)`` of every shingle in
    ``df``: ONE ArrowEvalPython does tokenize→shingle→31-bit
    hash→positions per doc (``functions/arrow_hash.py::
    bloom_positions_udf``); the global distinct makes per-doc vs
    corpus-wide dedup order irrelevant."""
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        bloom_positions_udf,
    )

    return df.select(
        F.explode(
            bloom_positions_udf(shingle_len, m_bits, coeffs, hash_fn)(
                F.col(text_col)
            )
        ).alias("__p")
    ).distinct()


def bloom_flag_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: int = 1,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 17,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Two-phase decontamination, EXACTLY equal to
    :func:`flag_contaminated` (pytest-pinned equivalence) but built for
    benchmark shingle sets too big to broadcast as strings:

    1. **Bloom prefilter, in-row**: each document's distinct shingles
       filter against the ``m_bits`` bitmap (carried by the kernel's
       closure — 128 KiB at the default) INSIDE the scan; documents
       with zero Bloom-positive shingles — the vast majority of a clean
       corpus — never leave the scan stage. A Bloom filter has no false
       negatives, so nothing contaminated can slip past the prefilter.
    2. **Exact verify**: only the Bloom-positive shingles of the
       candidate documents join the true benchmark set (the broadcast
       the direct operator pays for its WHOLE corpus explode), which
       eliminates the false positives. The join input is the
       candidate sliver, not the corpus.

    Returns ``(id_col, n_overlaps, contaminated)`` over the FULL
    corpus, exactly like :func:`flag_contaminated`.
    """
    bitmap = bloom_build(
        benchmark, text_col, shingle_len, m_bits, k_hashes, seed, hash_fn
    )
    return bloom_flag_with_bitmap(
        corpus, benchmark, bitmap, text_col, id_col, shingle_len,
        threshold, m_bits, k_hashes, seed, hash_fn,
    )


def bloom_flag_with_bitmap(
    corpus: DataFrame,
    benchmark: DataFrame,
    bitmap: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    threshold: int = 1,
    m_bits: int = 1 << 20,
    k_hashes: int = 4,
    seed: int = 17,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Phases 1+2 of :func:`bloom_flag_contaminated` with the bitmap
    SUPPLIED — the read side of the continuously-maintained
    decontamination filter (``streaming.maintained_bloom`` state via
    ``read_bloom_state``): as new eval sets land on the benchmark
    ledger the bitmap folds forward (bitwise OR — associative,
    commutative, IDEMPOTENT), so flagging a new corpus tick skips the
    benchmark re-shingle the batch operator pays for phase 1; phase
    2's exact verify still joins the benchmark ledger, but only for
    the Bloom-positive candidate sliver. Result EQUALS
    :func:`bloom_flag_contaminated` ≡ :func:`flag_contaminated` over
    the same populations (no false negatives + exact verify;
    pytest-pinned across a 3-tick maintained fold). ``bitmap`` and
    the geometry params must match the fold's (the
    ``read_maintained_heavy_hitters`` contract)."""
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        bloom_candidate_shingles_udf,
        word_shingle_set_udf,
    )
    from kamu_engine_datafusion_spark.functions.columns import (
        minhash_coeffs,
    )

    # phase 1: ONE ArrowEvalPython does tokenize→shingle→hash→k-bit
    # membership per doc; the bitmap rides the UDF closure (8–128 KiB)
    # instead of a broadcast row
    cand_udf = bloom_candidate_shingles_udf(
        bitmap, shingle_len, m_bits, minhash_coeffs(k_hashes, seed), hash_fn
    )
    cand = corpus.select(
        F.col(id_col).alias("__id"),
        cand_udf(F.col(text_col)).alias("__cand"),
    ).filter(F.size("__cand") > 0)
    # phase-2 exact verify: the benchmark's distinct shingle strings
    # (word_shingle_set_udf ≡ array_distinct(word_shingles(tokens(…))))
    bench_sh_arr = word_shingle_set_udf(shingle_len)(F.col(text_col))
    bench_shingles = F.broadcast(
        benchmark.select(F.explode(bench_sh_arr).alias("__sh")).distinct()
    )
    overlaps = (
        cand.select("__id", F.explode("__cand").alias("__sh"))
        .join(bench_shingles, "__sh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )
    return (
        corpus.select(F.col(id_col))
        .join(overlaps, corpus[id_col] == overlaps["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_overlaps"), F.lit(0)).cast("long").alias(
                "n_overlaps"
            ),
            (F.coalesce(F.col("n_overlaps"), F.lit(0)) >= threshold).alias(
                "contaminated"
            ),
        )
    )


def word_ngrams_expr(text, n: int = 2):
    """Word n-grams of a text column as an array column — the
    :func:`ngram_novelty` gram rule, exposed module-level for the
    maintained reference-set path (:func:`ngram_set_increment` /
    ``streaming.maintained_ngram_set``). Kept textually separate from
    the driver-green batch operator's inline helper; the two are
    pinned equal by the novelty-equivalence pytest."""
    from kamu_engine_datafusion_spark.functions.columns import _let

    c = F.col(text) if isinstance(text, str) else text
    t = F.split(F.trim(F.lower(c)), r"\s+")
    if n == 2:
        n1 = F.greatest(F.size(t) - 1, F.lit(0))
        return F.zip_with(
            F.slice(t, 1, n1),
            F.slice(t, 2, n1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    # Guarded like ngram_novelty's helper: a doc with fewer than n
    # tokens has ZERO n-grams — without the when(), sequence(1,
    # size-(n-1)) with size<n yields a DESCENDING [1, 0] and
    # slice(tv, 0, n) throws INVALID_PARAMETER_VALUE.START at runtime.
    return _let(
        t,
        lambda tv: F.when(
            F.size(tv) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(tv) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(tv, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def ngram_set_increment(
    state: DataFrame | None,
    tick: DataFrame,
    n: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """One tick of the maintained REFERENCE N-GRAM SET — the new
    distinct n-grams a benchmark/reference tick contributes
    (``streaming.maintained_ngram_set``'s merge law): tick n-grams,
    deduped, left-anti the stored set. Set union is an idempotent
    semilattice (the retention/as-of replay class — ticks in any
    order; the marker skip is an optimization, not a correctness
    need, because an already-stored n-gram can never re-append), so
    after any ticks the state IS the distinct n-gram set of the whole
    reference ledger, and :func:`novelty_against_ngrams` scores new
    corpus ticks without re-sharding the reference."""
    inc = (
        tick.select(
            F.explode(word_ngrams_expr(text_col, n)).alias("__ng")
        )
        .distinct()
    )
    if state is None:
        return inc
    return inc.join(state.select("__ng"), "__ng", "left_anti")


def novelty_against_ngrams(
    corpus: DataFrame,
    ngrams: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document novelty scored against a PRE-BUILT distinct
    n-gram frame (``maintained_ngram_set`` state or one
    :func:`ngram_set_increment`) — the read side of the maintained
    reference set, identical output to :func:`ngram_novelty` over the
    reference the set summarizes (same gram rule, same with-
    multiplicity counting, same half-up 4dp, same <n-token = 1.0
    convention; pytest-pinned row-for-row — the batch operator stays
    byte-identical). At 100 TB the batch path re-shingles the whole
    reference per scoring run; this broadcasts the stored set."""
    keep_cols = keep_cols or []
    ref = F.broadcast(
        ngrams.select("__ng").distinct().withColumn("__known", F.lit(1))
    )
    doc_ng = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(word_ngrams_expr(text_col, n)).alias("__ng"),
    )
    per_doc = (
        doc_ng.join(ref, "__ng", "left")
        .groupBy("__id")
        .agg(
            F.count(F.col("__ng")).cast("long").alias("n_ngrams"),
            F.sum(
                F.when(
                    F.col("__ng").isNotNull() & F.col("__known").isNull(),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    novelty = F.when(F.col("n_ngrams") == 0, F.lit(1.0)).otherwise(
        F.floor(F.col("n_novel") / F.col("n_ngrams") * 10000 + F.lit(0.5))
        / 10000
    )
    return (
        corpus.select(F.col(id_col), *keep_cols)
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            F.col(id_col),
            *keep_cols,
            F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            novelty.alias("novelty"),
        )
    )
