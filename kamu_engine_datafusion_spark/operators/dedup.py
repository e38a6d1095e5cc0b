"""Deduplication operators for large-scale training-data pipelines.

Dedup strategies over a document table, each designed for the 100 TB
regime (blocked/bucketed joins, no driver-side materialization, no
O(n²) candidate generation):

- :func:`exact_dedup` — hash-groupBy on content (or normalized content).
- :func:`minhash_lsh_candidates` / :func:`minhash_lsh_dedup` — shingle →
  MinHash signature → banded LSH bucket join → verified Jaccard.
- :func:`simhash_near_dups` — 64-bit SimHash + same-bucket Hamming check.
- :func:`ngram_jaccard_pairs` — token-set Jaccard within blocks.
- :func:`embedding_near_dups` — cosine near-duplicates within SRP bands.
- :func:`semantic_dedup` — SemDeDup-style: embedding clusters + within-
  cluster cosine prune.
- :func:`paragraph_dedup` — first global occurrence of each paragraph.
- :func:`minhash_index` / :func:`dedup_increment_against_index` —
  continuous ingestion against a persisted signature index.

All are DataFrame compositions; nothing collects to the driver except
semantic_dedup's k seed vectors (the IVF-centroid pattern). Each kernel
has one production formulation: MinHash signatures, shingle sets, SRP
band keys and the float cosines run as Arrow-batched Pandas UDFs, never
row-at-a-time Python. The float kernels take ``exact``: ``True``
replays the SQL oracles' left-to-right double arithmetic bit for bit,
``False`` sums with BLAS/einsum (the same pairs up to last-ulp ties).
The interpreted Spark formulations they were derived from live in
``tests/jvm_twins.py`` as references. A kernel's parallelism comes from
its input splits; :func:`_resolve_fan_out` widens a few-split input by
its size.

Caching discipline: the LSH operators ``persist()`` small
multi-consumer intermediates (banded signature sets, duplicate-id
sets). Intermediates a call's own outputs no longer need are
unpersisted before returning; the rest (an output's direct inputs) are
parked on ``DEDUP_LEDGER`` (a :class:`.deferred.DeferredLedger`) and
unpersisted at the NEXT dedup call — so a long-lived session looping
over increments holds at most one tick's intermediates and never needs
``clearCache()``. Call ``DEDUP_LEDGER.release()`` after the last call
of a session. Releasing early is always safe: an unpersisted
intermediate recomputes from lineage (slower, never wrong).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import (
    hamming64,
    l2_norm,
    lsh_band_keys,
    lsh_band_keys_fold,
    poly_hash31,
    tokens,
)
from kamu_engine_datafusion_spark.operators.deferred import DeferredLedger

#: Per-call intermediates that a returned (lazy) DataFrame still reads:
#: released at the start of the next dedup entry point.
DEDUP_LEDGER = DeferredLedger()

#: METADATA-SIZED maintained-state frames (accumulated index bands/sigs,
#: component edges, …), released at the start of a new top-level
#: fold/query — a separate ledger because the per-call release above
#: must NOT drop state a later tick still folds over.
#:
#: Why persist them: a chained per-tick fold
#: (``state = f(state, tick)``) that references ``state`` more than once
#: per tick (an index is probed AND unioned; component edges are joined
#: twice) nests the dual reference — at action time tick t's plan
#: re-derives tick t−1's whole chain per reference, 2^ticks recomputes
#: of the earliest ticks (measured: ``xminhash_index_maintained``
#: 14.2 s at sf0.1 for a 3-tick fold over 300 docs). Persisting each
#: tick's accumulated state makes the fold linear. Never persist a
#: corpus-sized frame here.
STATE_LEDGER = DeferredLedger()


def normalize_text(col: Column | str) -> Column:
    """Canonical text form for exact dedup: lowercase, collapse runs of
    whitespace, trim."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-id representative per normalized
    content hash.

    Scale: one shuffle on the 64-bit content hash (uniform keys — no
    skew); the window per hash group is tiny. Equivalent semantics to
    ``dropDuplicates`` but with a deterministic survivor.
    """
    h = F.xxhash64(normalize_text(text_col)).alias("__content_hash")
    w = Window.partitionBy("__content_hash").orderBy(F.col(id_col))
    return (
        df.withColumn("__content_hash", h)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__content_hash", "__rn")
    )


def _resolve_fan_out(
    narrow: DataFrame, target_bytes: int = 2 * 1024 * 1024
) -> int | None:
    """Repartition width for a zero-shuffle arrow kernel over
    ``narrow``, derived from the input size rather than a hand-tuned
    constant: one task per ``target_bytes`` of uncompressed file bytes,
    capped at the cluster's default parallelism. None (no repartition)
    when that is one task, when the scan's own splits already give that
    many, or when ``narrow`` reads no Parquet files (an in-memory or
    checkpointed frame).

    What that gives: a many-split 100 TB scan resolves to None (its
    splits fan out); the single-file sf0.1 ledgers resolve to None too,
    where the kernel is cheaper than the shuffle (the full MinHash
    dedup measured 2.07 s against 2.61 s at a fixed width of 8); the
    single-file 10× replica corpus resolves to about 12, where a
    one-task kernel was the bottleneck (10.2 → 5.8 s at width 8)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = [
        f[len("file:"):] if f.startswith("file:") else f
        for f in narrow.inputFiles()
    ]
    if not files:
        return None
    # UNCOMPRESSED footer bytes, not file sizes: a replica-heavy
    # corpus compresses 10:1 and would under-fan exactly where the
    # kernel is slowest. Footer-only reads; sampled + extrapolated
    # so a many-file input costs O(16) metadata reads.
    sample = files[:16]
    uncomp = 0
    try:
        for path in sample:
            md = pq.ParquetFile(path).metadata
            uncomp += sum(
                md.row_group(i).total_byte_size
                for i in range(md.num_row_groups)
            )
    except (OSError, pa.ArrowException):
        return None  # not a local Parquet footer: keep the scan's shape
    size = uncomp * len(files) // len(sample)
    if size <= 0:
        return None
    sc = narrow.sparkSession.sparkContext
    want = min(sc.defaultParallelism, max(1, size // target_bytes))
    if want <= 1 or narrow.rdd.getNumPartitions() >= want:
        return None
    return int(want)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Per-document MinHash signatures ``(__id, __sig)`` computed in ONE
    Arrow-batched pandas UDF (``functions.arrow_hash.
    minhash_signature_udf`` / ``minhash_signature_poly_udf``): numpy
    token hashing, a flat shingle fold and vectorized minima, with no
    shuffle. A doc with no shingle has no signature row.

    ``base_hash``: ``"xxhash64"`` (default, fastest) or ``"poly"``
    (polynomial char hash over string shingles — reproducible in plain
    SQL, enabling a full cross-engine oracle of the LSH pipeline).

    Why a UDF: the interpreted formulation (tokenize → shingle-hash
    ``transform`` → per-hash minima) runs Spark's higher-order
    functions outside codegen, which made it the most expensive and
    most host-drift-sensitive kernel of the dedup family, and its
    explode → groupBy(MIN) shape pays a corpus-sized exchange. SCALE.md
    keeps those measurements; ``tests/jvm_twins.py::
    minhash_signatures_explode`` keeps the formulation as the bit-exact
    reference.

    The UDF's parallelism comes from the input splits, and a
    single-file ledger gives it one task, so the narrow ``(id, text)``
    projection is widened first when :func:`_resolve_fan_out` says so.
    """
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        minhash_signature_poly_udf,
        minhash_signature_udf,
    )

    udf = (
        minhash_signature_poly_udf(shingle_len, num_hashes, seed)
        if base_hash == "poly"
        else minhash_signature_udf(shingle_len, num_hashes, seed)
    )
    narrow = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__t")
    )
    fan_out = _resolve_fan_out(narrow)
    if fan_out:
        narrow = narrow.repartition(fan_out)
    return narrow.select(
        "__id",
        udf(F.col("__t")).alias("__sig"),
    ).filter(F.col("__sig").isNotNull())


#: Max oversized bucket keys inlined as a NOT-IN literal by the
#: ``collect`` cap mode before it falls back to the broadcast anti-join
#: (keeps the plan tree bounded on boilerplate-heavy corpora).
_COLLECT_CAP_LIMIT = 1024


def _cap_buckets(
    banded: DataFrame, key: str, max_bucket_size: int, mode: str = "collect"
) -> DataFrame:
    """Drop rows whose bucket exceeds ``max_bucket_size`` members — the
    standard guard against degenerate LSH buckets (shared boilerplate)
    going quadratic in the pair join.

    ``collect`` (default): ONE eager job aggregates per-key counts and
    collects the oversized keys to the driver, then removes them with an
    in-plan NOT-IN literal filter. The key list is structurally bounded —
    every oversized key has > cap members, so there are at most
    rows/cap of them — and guarded by ``_COLLECT_CAP_LIMIT`` anyway:
    past the guard it falls back to the broadcast anti-join (whose build
    side then reads the already-populated cache). Callers that just
    ``persist()``-ed ``banded`` get its cache populated by this same
    job, so the cap replaces the separate ``count()`` materialization
    pass the fan-out would otherwise need (measured 1.96s → 1.32s on
    the sf0.1 candidate stage).
    ``antijoin``: aggregate the oversized keys lazily and
    broadcast-anti-join them away — everything stays in one job; the
    right mode when ``banded`` is NOT persisted (no eager pass over an
    unmaterialized lineage). Measured faster than a count-over-window
    pass at both 5k docs (1.46s vs 1.80s warm) and 50k docs (5.64s vs
    6.39s full pipeline) — see SCALE.md.
    """
    if mode == "collect":
        big = (
            banded.groupBy(key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select(key)
            .limit(_COLLECT_CAP_LIMIT + 1)
            .collect()
        )
        if not big:
            return banded
        if len(big) <= _COLLECT_CAP_LIMIT:
            return banded.filter(~F.col(key).isin([r[0] for r in big]))
        # degenerate corpus: too many keys to inline, anti-join below
    big = (
        banded.groupBy(key)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select(key)
    )
    return banded.join(F.broadcast(big), key, "left_anti")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket_size: int | None = 200,
    base_hash: str = "xxhash64",
    _cleanup: list[DataFrame] | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Pipeline: per-doc signatures (:func:`minhash_signatures`) →
    ``num_bands`` band keys → explode → self-join on band key → distinct
    pairs (id_a < id_b).

    Scale: the signatures need no shuffle (at most one widening
    repartition of a few-split input); the band-key join is the one
    corpus-sized exchange (hash keys — uniform). ``max_bucket_size``
    drops pathological buckets (boilerplate shared by thousands of
    docs) that would go quadratic — the standard production guard; run
    :func:`exact_dedup` first so identical texts don't form such
    buckets.
    """
    if _cleanup is None:  # standalone call: this IS the entry point
        DEDUP_LEDGER.release()
    sigs = minhash_signatures(
        df, text_col, id_col, shingle_len, num_hashes, base_hash=base_hash
    )
    banded = _banded_sigs(
        sigs, num_bands, num_hashes // num_bands, base_hash
    ).select("__id", "__band")
    # The banded set feeds the bucket-cap count AND both legs of the pair
    # self-join; without materialization the whole signature pipeline
    # (tokenize → shingle-hash → 32 minima) recomputes for each
    # consumer. The set is tiny relative to the corpus — (id, band) pairs,
    # num_bands rows per doc — so materializing it is the cheap side of
    # the trade. Eager population is deliberate: persist() alone is
    # lazy, and a single downstream job with three consumers races all
    # three branches through the UNPOPULATED cache — the signature
    # pipeline runs ~3x concurrently (measured ~2x wall on the sf0.1
    # bench). The collect-mode cap IS that populating job; only the
    # uncapped path needs a standalone count().
    banded = banded.persist()
    if _cleanup is not None:
        _cleanup.append(banded)
    else:
        # the returned pair set still reads banded's cache lazily;
        # park it for release at the next call
        DEDUP_LEDGER.park(banded)
    if max_bucket_size:
        banded = _cap_buckets(banded, "__band", max_bucket_size)
    else:
        banded.count()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.__band") == F.col("b.__band")) & (F.col("a.__id") < F.col("b.__id")))
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )


def verified_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    use_hashed_shingles: bool = True,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs: join the shingle
    sets back onto the (small) candidate pair set and compare.

    Docs are semi-join-pruned to the candidate ids BEFORE shingle sets
    are built — the candidate set is tiny relative to the corpus, so the
    expensive tokenize/shingle work happens only for docs that appear in
    some pair (at 100 TB this is the difference between re-scanning the
    corpus and touching a few thousand rows).

    ``use_hashed_shingles`` compares 64-bit shingle hashes (the same
    ``shingle_hash_array`` form the signature pipeline consumes)
    instead of materialized shingle strings: set semantics are identical
    up to xxhash64 collisions (~n²/2⁶⁴ per doc — negligible) and the
    intersect/union runs on longs, which measures ~4× faster than
    string arrays. Set it False for the SQL-oracle (poly-hash) variant,
    which replicates string shingles verbatim.

    Either set is built in one vectorized kernel
    (``functions.arrow_hash.shingle_hash_set_udf`` /
    ``word_shingle_set_udf``), set-identical to the interpreted
    ``array_distinct`` of the shingle array (twin pytest); the
    intersection itself runs codegen'd.
    """
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        shingle_hash_set_udf,
        word_shingle_set_udf,
    )

    cand_ids = (
        pairs.select(F.col("id_a").alias("__cid"))
        .unionByName(pairs.select(F.col("id_b").alias("__cid")))
        .distinct()
    )
    pruned = df.join(
        F.broadcast(cand_ids), df[id_col] == F.col("__cid"), "left_semi"
    )
    fan_out = _resolve_fan_out(df.select(id_col, text_col))
    if fan_out:
        # the set build's parallelism follows df's input splits; on a
        # single-file local ledger that is ONE task over every
        # candidate doc (the 10× replica corpus makes ~all docs
        # candidates — measured +4.7s). The width comes from the BASE
        # corpus size, an upper bound on the pruned set.
        pruned = pruned.select(id_col, text_col).repartition(fan_out)
    sh_udf = (
        shingle_hash_set_udf(shingle_len)
        if use_hashed_shingles
        else word_shingle_set_udf(shingle_len)
    )
    # both join legs consume the shingle sets; persist so the prune +
    # tokenize + shingle work runs once (candidate-sized — tiny), released
    # at the next dedup call like every LSH intermediate
    sh = pruned.select(
        F.col(id_col).alias("__id"),
        sh_udf(F.col(text_col)).alias("__sh"),
    ).persist()
    sh.count()  # populate before the two join legs race through it
    DEDUP_LEDGER.park(sh)
    return (
        pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
        # |A∪B| = |A| + |B| − |A∩B| (arrays are array_distinct'd sets):
        # skipping array_union avoids ALLOCATING a union array per pair
        # just to take its size — measured 25% off the verify stage on
        # the 10× replica corpus (SCALE.md r10)
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("__i"),
            F.size("sh_a").alias("__sa"),
            F.size("sh_b").alias("__sb"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__i")
                / (F.col("__sa") + F.col("__sb") - F.col("__i"))
            ).alias("jaccard"),
        )
    )


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket_size: int | None = 200,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Full MinHash-LSH near-dedup: candidates → verified Jaccard ≥
    threshold → drop every doc that matches a lower-id survivor.

    (Connected-component clustering is deliberately NOT done — chasing
    transitive chains needs iterative joins; the lower-id-wins rule is
    the standard single-pass policy and matches what exact_dedup does.)

    Caching discipline: the banded set, the candidate pairs and the
    shingle sets stay cached until the next dedup call (see module
    docstring) — the returned anti-join still reads them.
    """
    DEDUP_LEDGER.release()
    # candidates are tiny but their lineage is the whole signature+LSH
    # pipeline; verification references them 4x (two id legs, two joins)
    # so materialize to compute that pipeline once
    handles: list[DataFrame] = []
    cand = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        shingle_len,
        num_hashes,
        num_bands,
        max_bucket_size,
        base_hash,
        _cleanup=handles,
    ).persist()
    # populate the pair cache before verification fans out over it
    # (cand_ids + two join legs — three concurrent consumers otherwise)
    cand.count()
    dups = (
        verified_jaccard(
            df,
            cand,
            text_col,
            id_col,
            shingle_len,
            use_hashed_shingles=(base_hash != "poly"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # dups is consumed exactly once (the anti-join below), so it needs
    # no materialization of its own: verification runs inside the
    # caller's job, reading the already-populated cand cache — one
    # fewer job barrier than persist+count-ing dups here (measured
    # ~0.4s of fixed job overhead at sf0.1). The price is that the
    # banded set and pairs stay cached until the NEXT dedup call (the
    # module's standard one-tick deferred-release discipline) instead
    # of being dropped eagerly.
    DEDUP_LEDGER.park(*handles, cand)
    return df.join(dups, id_col, "left_anti")


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    block_bits: int = 16,
    base_hash: str = "xxhash64",
    num_blocks: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs: 64-bit fingerprint, blocked join,
    Hamming verification.

    Scale: SimHash is computed explode→groupBy (64 conditional-sum
    aggregates with map-side partials) rather than as one 64-branch
    column expression — same reasoning as :func:`minhash_signatures`.

    Blocking modes:
    - default (``num_blocks=None``): single prefix block on the top
      ``block_bits`` bits — cheap, high-precision, recall < 1 (a pair
      differing inside the prefix is missed);
    - ``num_blocks=k``: pigeonhole blocks (the Manku/Charikar web-dedup
      scheme): the fingerprint splits into ``k`` disjoint chunks and each
      doc registers once per chunk; two fingerprints within Hamming
      distance ``k-1`` MUST agree on at least one whole chunk, so recall
      is **guaranteed** for ``max_hamming <= k-1``. Cost: k join keys
      per doc instead of 1, pairs deduped before verification.

    ``base_hash="poly"`` uses the SQL-expressible 31-bit polynomial
    token hash (fingerprints have 31 bits), enabling a full cross-engine
    oracle of the pipeline.
    """
    DEDUP_LEDGER.release()
    sig_bits = 31 if base_hash == "poly" else 64
    hash_expr = (
        poly_hash31(F.col("__t")) if base_hash == "poly" else F.xxhash64("__t")
    )
    tok_hashes = df.select(
        F.col(id_col).alias("__id"),
        F.explode(tokens(text_col)).alias("__t"),
    ).select("__id", hash_expr.alias("__h"))
    bit_sums = tok_hashes.groupBy("__id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
            for b in range(sig_bits)
        ],
    )
    fp_expr = F.lit(0).cast("long")
    for b in range(sig_bits):
        bit = (
            F.when(F.col(f"__b{b}") * 2 > F.col("__n"), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
        fp_expr = fp_expr + F.shiftleft(bit, b)
    fps = bit_sums.select("__id", fp_expr.alias("__fp"))
    if num_blocks is None:
        fp = fps.withColumn(
            "__block", F.shiftright(F.col("__fp"), sig_bits - block_bits)
        )
    else:
        fp = fps.withColumn(
            "__block",
            F.explode(
                F.array(
                    *_pigeonhole_chunks(sig_bits, max_hamming, num_blocks)
                )
            ),
        )
    # pigeonhole mode can find a pair via several chunks
    return _blocked_hamming_pairs(
        fp, max_hamming, dedup=num_blocks is not None
    )


def _pigeonhole_chunks(
    sig_bits: int, max_hamming: int, num_blocks: int, fp_col: str = "__fp"
) -> list:
    """The Manku/Charikar pigeonhole block keys over a ``sig_bits``-bit
    fingerprint column: k disjoint chunks — chunk i gets an even share
    of the bits plus the remainder on the last chunk; two fingerprints
    within Hamming distance ``k-1`` MUST agree on at least one whole
    chunk, so recall is guaranteed for ``max_hamming <= k-1``. The join
    key is (chunk index, chunk value) — a struct, so chunk values never
    collide across positions. Arithmetic shiftright is safe even for a
    negative (bit-63-set) fingerprint: the width mask clears the
    sign-fill bits."""
    if max_hamming > num_blocks - 1:
        raise ValueError(
            f"pigeonhole blocking guarantees recall only for "
            f"max_hamming <= num_blocks-1 ({num_blocks - 1}); "
            f"got max_hamming={max_hamming}. Raise num_blocks."
        )
    w = sig_bits // num_blocks
    chunks = []
    for i in range(num_blocks):
        start = i * w
        width = w if i < num_blocks - 1 else sig_bits - start
        val = F.shiftright(F.col(fp_col), start).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        chunks.append(F.struct(F.lit(i).alias("i"), val.alias("v")))
    return chunks


def _blocked_hamming_pairs(
    fp: DataFrame, max_hamming: int, dedup: bool
) -> DataFrame:
    """Shared verify tail of the Hamming near-dup family: self-join
    ``(__id, __fp, __block)`` on the block key, exact popcount-of-XOR
    verification, optional pair dedup (pigeonhole mode can find a pair
    via several chunks). The fingerprint pipeline feeds both join legs;
    persist so it runs once, not per leg — released at the next dedup
    call like every LSH intermediate."""
    fp = fp.persist()
    fp.count()  # populate before the two join legs race through it
    DEDUP_LEDGER.park(fp)
    a, b = fp.alias("a"), fp.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            hamming64(F.col("a.__fp"), F.col("b.__fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.distinct() if dedup else pairs


def phash_near_dups(
    media: DataFrame,
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Image near-duplicate pairs over 64-bit perceptual hashes
    (``operators/multimodal.py::perceptual_hash``'s 16-char hex
    output): parse the hex fingerprint, register each image once per
    pigeonhole chunk, equi-join on (chunk index, chunk value), and
    verify with the exact 64-bit Hamming distance — recall is
    GUARANTEED for ``max_hamming <= num_blocks - 1`` (a pair within
    that distance must agree on a whole chunk), completing the
    multimodal dedup story: ``perceptual_hash`` buckets exact dups,
    this finds the near ones.

    The hex parse goes through two 32-bit halves (a full 64-bit
    ``conv`` would overflow the signed BIGINT for bit-63 hashes);
    chunk extraction and popcount operate on the reassembled signed
    long, where the width masks make sign-fill harmless.

    Scale: identical shape to :func:`simhash_near_dups` pigeonhole
    mode — ``num_blocks`` join keys per image, block sizes are
    ~uniform under a well-mixed hash, and the only corpus-sized
    exchange is the block-key shuffle of (id, fp, block) triples.
    """
    DEDUP_LEDGER.release()
    hi = F.conv(F.substring(phash_col, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(phash_col, 9, 8), 16, 10).cast("long")
    fps = media.select(
        F.col(id_col).alias("__id"),
        F.shiftleft(hi, 32).bitwiseOR(lo).alias("__fp"),
    )
    fp = fps.withColumn(
        "__block",
        F.explode(F.array(*_pigeonhole_chunks(64, max_hamming, num_blocks))),
    )
    return _blocked_hamming_pairs(fp, max_hamming, dedup=True)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: str | list[str] | None = None,
    threshold: float = 0.5,
    *,
    block_col: str | None = None,
    max_block_size: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard ≥ ``threshold`` pairs, blocked.

    Blocking is MANDATORY (``block_cols`` — raises on None): an
    unblocked corpus self-join is O(n²) and a coarse block (a handful of
    languages) is still quadratic per block. On top of the caller's
    block columns, a **lossless length-zone key** is always added:
    ``jaccard(A, B) ≥ t`` forces ``min(|A|,|B|)/max(|A|,|B|) ≥ t``
    (the intersection is bounded by the smaller set, the union by the
    larger), so with geometric length buckets of base ``1/t`` every
    qualifying pair lands in the same or an adjacent bucket. Each doc
    registers in zones ``{bucket, bucket+1}`` (the standard probe
    duplication, making the adjacent-bucket match an equi-join), pairs
    are verified with the exact Jaccard, and duplicates from the two
    zones are collapsed — the result is IDENTICAL to pairing within the
    caller's blocks alone, but the join key now carries
    ``blocks × length-zone`` cardinality instead of a few coarse values.

    This is the EXACT verifier — still quadratic per (block × zone)
    group, which bites when the corpus has near-uniform lengths (zones
    stop subdividing; measured: 20k uniform-length docs in 4 language
    blocks ran minutes, LSH the same corpus in seconds). For corpora
    beyond ~10k docs per block, generate candidates with
    :func:`minhash_lsh_candidates` and verify with
    :func:`verified_jaccard` instead. ``max_block_size`` is the
    explicit production guard: (block × zone) groups larger than the cap
    are EXCLUDED from pairing (a deliberate recall sacrifice, same
    contract as the LSH ``max_bucket_size``); the default None never
    silently drops.
    """
    if block_col is not None and block_cols is None:
        block_cols = block_col  # back-compat spelling
    if isinstance(block_cols, str):
        block_cols = [block_cols]
    if not block_cols:
        raise ValueError(
            "ngram_jaccard_pairs requires block_cols: an unblocked corpus "
            "self-join is O(n^2). Block on language/domain/source (the "
            "lossless length-zone key is added automatically), or generate "
            "candidates with minhash_lsh_candidates instead."
        )
    # Qualifying pairs have length ratio <= 1/t; a bucket base slightly
    # ABOVE 1/t makes that a strict inequality, so floor(log) buckets can
    # differ by at most 1 even at the boundary (float-safe).
    zone_base = 1.0 / (0.999 * min(threshold, 0.99))
    toks = (
        df.select(
            F.col(id_col).alias("__id"),
            # unit-separator join: "ab"+"c" and "a"+"bc" must not collide
            F.concat_ws(chr(31), *[F.col(c) for c in block_cols]).alias("__blk"),
            F.array_distinct(tokens(text_col)).alias("__tok"),
        )
        .withColumn(
            "__bkt",
            F.floor(
                F.log(F.size("__tok").cast("double")) / F.lit(math.log(zone_base))
            ),
        )
        .withColumn("__zone", F.explode(F.array(F.col("__bkt"), F.col("__bkt") + 1)))
        .withColumn("__bz", F.concat_ws(chr(31), "__blk", "__zone"))
    )
    if max_block_size:
        # toks is NOT persisted: the lazy anti-join keeps the cap inside
        # the pair-join job instead of an eager pass over raw lineage
        toks = _cap_buckets(toks, "__bz", max_block_size, "antijoin")
    a, b = toks.alias("a"), toks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__bz") == F.col("b.__bz"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            # |A∪B| via |A|+|B|−|A∩B| — no union-array allocation per
            # pair, and the same operand shape the DuckDB oracles use
            F.size(F.array_intersect("a.__tok", "b.__tok")).alias("__i"),
            F.size("a.__tok").alias("__sa"),
            F.size("b.__tok").alias("__sb"),
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("__i")
                / (F.col("__sa") + F.col("__sb") - F.col("__i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()  # a pair can meet in both of its shared zones
    )


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Corpus-wide paragraph dedup (the CCNet/Dolma-style operator):
    split every document into paragraphs, keep only the globally-first
    occurrence of each distinct paragraph (ordered by (doc id, position)),
    and reassemble documents from their surviving paragraphs.

    Returns ``(id_col, text_col)`` with deduplicated text (possibly
    empty). Scale shape: one shuffle keyed by paragraph content (uniform
    hash), one groupBy to reassemble — both linear; no pairwise joins.
    """
    import re

    paras = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "__pos", "__para"
        ),
    )
    w = Window.partitionBy("__para").orderBy("__id", "__pos")
    kept = (
        paras.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__para")))
                ),
                lambda s: s.getField("__para"),
            ),
            sep,
        ).alias(text_col)
    )
    # docs whose every paragraph was deduped elsewhere survive as empty text
    return (
        df.select(F.col(id_col))
        .join(reassembled, df[id_col] == reassembled["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        )
    )


#: Deterministic integer LCG for SRP hyperplane components: component
#: ``i`` of plane ``p`` is ``((A*(p*dim+i)+B) mod M) - M/2`` — uniform in
#: [-1024, 1024), symmetric about 0, and reproducible verbatim in plain
#: SQL on any engine (the cross-engine-oracle property; see the poly-hash
#: MinHash variant for the same idea on strings).
_SRP_LCG_A = 1103515245
_SRP_LCG_B = 12345
_SRP_LCG_M = 2048


def srp_plane_components(plane_idx: int, dim: int) -> list[float]:
    return [
        float((_SRP_LCG_A * (plane_idx * dim + i) + _SRP_LCG_B) % _SRP_LCG_M
              - _SRP_LCG_M // 2)
        for i in range(dim)
    ]


def embedding_near_dups(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int | None = None,
    num_bands: int = 4,
    bits_per_band: int = 8,
    max_bucket_size: int | None = 1000,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP-LSH candidates.

    Candidate generation is signed-random-projection banding — the
    cosine analogue of MinHash banding: each vector gets
    ``num_bands × bits_per_band`` sign bits (one per deterministic
    hyperplane), vectors agreeing on ALL bits of at least one band become
    candidates, and candidates are verified with the exact cosine. The
    join key carries ``num_bands × 2^bits_per_band`` values (1024 at the
    defaults) of roughly uniform occupancy — never a self-join on a
    handful of coarse labels, which is quadratic per label.

    Recall is the standard LSH dial (P[pair at cosine c shares a band] =
    ``1-(1-(1-acos(c)/pi)^bits)^bands``; ≈89% at c=0.95 and ≈99% at
    c=0.99 with the 4×8 defaults — raise ``num_bands`` for more recall);
    precision is exact (verified cosine). At larger corpora
    raise ``bits_per_band`` so per-bucket occupancy stays bounded, and
    keep ``max_bucket_size`` as the guard against degenerate buckets
    (e.g. zero-vector pile-ups).

    Both stages are vectorized kernels: all band keys in one projection
    per Arrow batch (``functions/arrow_hash.py::srp_band_keys_udf``),
    and the verify cosine of :func:`_pair_cosine`. ``exact=True``
    sums every dot left to right, one rounded multiply and one rounded
    add per element — bit-identical with the SQL oracle's double
    arithmetic, which the hash-verified oracle keys need (a blocked sum
    can move the 6dp-rounded cosine by one ulp on a half-boundary
    value). ``exact=False`` uses a BLAS matmul and einsum: the scale
    path (band keys of a 10k × 64 batch over 32 planes take 1.8 ms as a
    matmul and 58 ms as the ordered fold), with the same pairs except
    where a plane dot lands exactly on 0.0 or a cosine within an ulp of
    the threshold.
    """
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        srp_band_keys_udf,
    )

    DEDUP_LEDGER.release()
    if dim is None:
        head = df.select(F.size(vec_col)).head()
        dim = head[0] if head else None
    base = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    fan_out = _resolve_fan_out(base)
    if fan_out:
        # the band-key kernel and the verify pass inherit the input's
        # splits; a single-file local ledger gives them one task
        base = base.repartition(fan_out)
    base = base.withColumn("__nrm", l2_norm(F.col("__v"), dim))
    planes = [
        srp_plane_components(pidx, dim)
        for pidx in range(num_bands * bits_per_band)
    ]
    band_keys = srp_band_keys_udf(planes, num_bands, bits_per_band, exact)
    # persist the banded set so the cap count and BOTH join legs read
    # it instead of recomputing the projection (released at the next
    # dedup call like every LSH intermediate)
    banded = base.select(
        "__id",
        F.explode(band_keys(F.col("__v"))).alias("__band"),
    ).persist()
    DEDUP_LEDGER.park(banded)
    if max_bucket_size:
        # the collect-mode cap's count job populates the cache — no
        # separate count() pass
        banded = _cap_buckets(banded, "__band", max_bucket_size)
    else:
        banded.count()  # populate before the join legs fan out
    pa, pb = banded.alias("pa"), banded.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.__band") == F.col("pb.__band"))
            & (F.col("pa.__id") < F.col("pb.__id")),
        )
        .select(F.col("pa.__id").alias("id_a"), F.col("pb.__id").alias("id_b"))
        .distinct()
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        cand.join(a, F.col("id_a") == F.col("a.__id"))
        .join(b, F.col("id_b") == F.col("b.__id"))
        .select(
            "id_a",
            "id_b",
            F.round(_pair_cosine(exact), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _pair_cosine(exact: bool) -> Column:
    """The verify cosine of a joined pair frame whose legs are aliased
    ``a``/``b`` and carry ``__v`` and its norm ``__nrm`` — shared by
    :func:`embedding_near_dups` and :func:`semantic_dedup`. A zero
    vector's cosine to anything is 0.

    ``exact=False``: the einsum kernel of :func:`_arrow_cosine`.
    ``exact=True``: the left-to-right ordered dot
    (``functions/arrow_hash.py::float_dot_ordered_udf``) over the
    precomputed norms — bit-identical with the interpreted
    ``dot_product`` fold the SQL oracles replay. The zero-norm guard is
    a CASE, not a division result: ANSI mode makes x/0 an error."""
    if not exact:
        return _arrow_cosine(F.col("a.__v"), F.col("b.__v"))
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        float_dot_ordered_udf,
    )

    return F.when(
        (F.col("a.__nrm") == 0.0) | (F.col("b.__nrm") == 0.0), F.lit(0.0)
    ).otherwise(
        float_dot_ordered_udf()(F.col("a.__v"), F.col("b.__v"))
        / (F.col("a.__nrm") * F.col("b.__nrm"))
    )


def _arrow_cosine(u_col: Column, v_col: Column) -> Column:
    """Vectorized cosine similarity via an Arrow-batched Pandas UDF —
    the sanctioned slow-path escape used where the built-in column form
    genuinely can't keep up: per-pair higher-order lambdas evaluate
    interpreted (~3-4 µs per 64-dim cosine), while numpy does the same
    math SIMD-vectorized per Arrow batch. Summation order differs from
    the left-to-right oracle form in the last float bits."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    # no type hints: PEP 563 (module-wide `annotations` import) turns
    # them into strings pandas_udf cannot resolve; eval type is explicit
    def _cos(u, v):
        un = np.array(u.tolist(), dtype=np.float64)
        vn = np.array(v.tolist(), dtype=np.float64)
        num = np.einsum("ij,ij->i", un, vn)
        den = np.linalg.norm(un, axis=1) * np.linalg.norm(vn, axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            out = np.where(den == 0.0, 0.0, num / den)
        return pd.Series(out)

    # asNondeterministic: callers filter on the cosine (>= threshold),
    # and pushdown otherwise copies the UDF below the filter — two
    # evaluations per pair (guide §4.4)
    return pandas_udf(
        _cos, "double", PandasUDFType.SCALAR
    ).asNondeterministic()(u_col, v_col)


def _arrow_nearest_seed(
    v_col: Column, seed_ids: list, seed_vecs: list[list[float]]
) -> Column:
    """Vectorized nearest-seed assignment: one numpy matmul of each
    Arrow batch against the (num_seeds × dim) unit-seed matrix,
    ``argmax`` row-wise. Seeds ride the UDF closure (k × dim doubles).
    ``argmax`` returns the FIRST maximum and seeds are ordered by id, so
    ties break to the lower seed id — the total order of the exact
    path (up to SIMD float-rounding on near-ties)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import PandasUDFType, pandas_udf

    ids = np.array(seed_ids, dtype=np.int64)
    sm = np.array(seed_vecs, dtype=np.float64)
    snorm = np.linalg.norm(sm, axis=1, keepdims=True)
    # zero-norm seeds must never win the argmax (an unguarded division
    # would give a NaN row, and argmax over NaN assigns EVERYTHING to
    # that seed); sentinel below the cosine floor keeps them inert,
    # matching the exact path's guard
    sm = np.where(snorm == 0.0, 0.0, sm / np.where(snorm == 0.0, 1.0, snorm))
    dead = (snorm[:, 0] == 0.0)

    def _assign(v):
        vn = np.array(v.tolist(), dtype=np.float64)
        norms = np.linalg.norm(vn, axis=1, keepdims=True)
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = np.where(norms == 0.0, 0.0, vn / norms) @ sm.T
        cos[:, dead] = -2.0
        return pd.Series(ids[np.argmax(cos, axis=1)])

    return pandas_udf(_assign, "long", PandasUDFType.SCALAR)(v_col)


def _assign_clusters(base: DataFrame, seed_rows: list, exact: bool) -> DataFrame:
    """``base`` (``__id``, ``__v``, ``__nrm``) plus ``__cluster``: the id
    of each vector's nearest seed by cosine — higher cosine wins, ties
    break to the lower seed id.

    ``exact=False``: one matmul per Arrow batch
    (:func:`_arrow_nearest_seed`). ``exact=True``: all seed dots in one
    left-to-right ordered-fold kernel
    (``functions/arrow_hash.py::float_dots_ordered_const_udf``), then a
    max over ``(cosine, -seed_id)`` structs, bit-identical with the
    interpreted per-seed ``dot_product`` folds the SQL oracle replays.
    Zero-norm guards on BOTH sides: a NaN cosine would win Spark's
    struct max (NaN sorts greatest) and silently funnel the corpus into
    one cluster, so a zero seed gets a sentinel below the cosine floor
    and a zero corpus vector gets cosine 0 (matching the matmul
    kernel)."""
    seed_vecs = [list(map(float, r["__v"])) for r in seed_rows]
    if not exact:
        return base.withColumn(
            "__cluster",
            _arrow_nearest_seed(
                F.col("__v"), [r["__id"] for r in seed_rows], seed_vecs
            ),
        )
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        float_dots_ordered_const_udf,
    )

    choices = []
    for i, (r, vec) in enumerate(zip(seed_rows, seed_vecs)):
        sn = math.sqrt(sum(x * x for x in vec))
        if sn == 0.0:
            cos_expr = F.lit(-2.0)
        else:
            cos_expr = F.when(F.col("__nrm") == 0.0, F.lit(0.0)).otherwise(
                F.element_at("__sdots", i + 1) / (F.col("__nrm") * sn)
            )
        choices.append(
            F.struct(cos_expr.alias("cos"), F.lit(-r["__id"]).alias("negsid"))
        )
    return base.withColumn(
        "__sdots", float_dots_ordered_const_udf(seed_vecs)(F.col("__v"))
    ).withColumn("__cluster", -F.array_max(F.array(*choices))["negsid"])


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    num_seeds: int = 16,
    seeds: DataFrame | None = None,
    max_cluster_size: int | None = None,
    exact: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic dedup: partition the corpus into
    embedding clusters, verify pairwise cosine ONLY within a cluster,
    drop every vector that matches a lower-id survivor.

    Clustering is a single assignment pass against a small set of seed
    vectors — by default the ``num_seeds`` lowest-id rows (deterministic
    and cross-engine reproducible, which makes the whole pipeline
    SQL-oracle-checkable); pass ``seeds`` (``(id, vector)`` schema like
    ``df``) to use k-means centroids when reproducibility across
    engines is not required — train via
    :func:`~kamu_engine_datafusion_spark.operators.similarity.ivf_index`
    and build the frame from ``model.clusterCenters()`` (the exact
    recipe is ``tests/test_pipeline_operators.py::
    test_semantic_dedup_with_kmeans_centroid_seeds``).

    Scale shape: seeds are collected to the driver (``num_seeds × dim``
    doubles — same sanctioned pattern as the IVF centroid math) so the
    nearest-seed assignment is in-row math over the seeds in the UDF
    closure — no n×k assignment shuffle. Within-cluster pairing is a
    capped self-join on the cluster id (codegen'd join — measured
    decisively faster than in-array pair expansion, whose higher-order
    lambdas evaluate interpreted; see SCALE.md round-5), with the
    assignment persisted so it runs once, not per join leg.
    Within-cluster comparison is quadratic per cluster BY CONTRACT —
    the SemDeDup trade: choose ``num_seeds`` so clusters stay small,
    and/or set ``max_cluster_size`` to drop degenerate clusters
    outright (count semantics, never silent truncation). Past a few
    hundred seeds use the k-means/IVF route instead.

    Tie-breaks are total: assignment prefers higher cosine, then lower
    seed id; the drop rule is the family's lower-id-wins single pass
    (:func:`minhash_lsh_dedup`). (The SemDeDup paper keeps the vector
    closest to the centroid; lower-id-wins is deterministic under
    re-partitioning, which matters more in a ledger engine.)

    Both passes are vectorized kernels (:func:`_assign_clusters`,
    :func:`_pair_cosine`). ``exact=True`` keeps the SQL oracle's
    left-to-right double arithmetic bit for bit; ``exact=False``
    (matmul assignment, einsum verify — the 100 TB path) may flip a
    near-tie assignment or a pair within float rounding of the
    threshold.
    """
    DEDUP_LEDGER.release()
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    seed_src = base if seeds is None else seeds.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    seed_rows = seed_src.orderBy("__id").limit(num_seeds).collect()
    fan_out = _resolve_fan_out(base)
    if fan_out:
        # the assignment kernel inherits the input's splits; a
        # single-file local ledger gives it one task. The seeds are
        # taken before, so their top-k scan pays no shuffle.
        base = base.repartition(fan_out)
    base = base.withColumn("__nrm", l2_norm(F.col("__v")))
    # both self-join legs consume the assignment; persist so the
    # dot-product pipeline runs once. Unlike the banded LSH operators —
    # where a doc appears in num_bands buckets and carrying vectors
    # would duplicate them per membership — a doc is in EXACTLY ONE
    # cluster, so the legs carry the vectors directly: zero join-backs,
    # and the cosine filter runs in the same stage as the join.
    assigned = _assign_clusters(base, seed_rows, exact).persist()
    legs = assigned
    if max_cluster_size:
        # collect-mode cap doubles as the cache-populating job
        legs = _cap_buckets(legs, "__cluster", max_cluster_size)
    else:
        assigned.count()  # populate before the join legs race through it
    a, b = legs.alias("a"), legs.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.__cluster") == F.col("b.__cluster"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .filter(_pair_cosine(exact) >= threshold)
        .select(F.col("b.__id").alias("__dup"))
        .distinct()
    )
    DEDUP_LEDGER.park(assigned)
    return df.join(dups, df[id_col] == F.col("__dup"), "left_anti")


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature index
# ---------------------------------------------------------------------------
#
# The continuous-ingestion production shape: the corpus's MinHash
# signatures are written ONCE (an index a fraction of the corpus size —
# num_hashes longs per doc); each new increment is deduped against the
# index and within itself WITHOUT touching corpus text again. Similarity
# is estimated from the signatures themselves (the fraction of agreeing
# MinHash components is an unbiased estimator of Jaccard — the classic
# Broder result), so the index needs no shingle sets, only signatures.


def estimated_jaccard(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """MinHash similarity estimate: fraction of agreeing components."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.lit(num_hashes)


def _banded_sigs(
    sigs: DataFrame, num_bands: int, rows_per_band: int, base_hash: str
) -> DataFrame:
    """(__id, __sig) → (__id, __sig, __band). The poly variant carries
    the band position in the key (fold keys can collide across bands)."""
    if base_hash == "poly":
        return sigs.select(
            "__id",
            "__sig",
            F.posexplode(
                lsh_band_keys_fold(F.col("__sig"), num_bands, rows_per_band)
            ).alias("__bandpos", "__bandkey"),
        ).select(
            "__id",
            "__sig",
            F.concat_ws(":", F.col("__bandpos"), F.col("__bandkey")).alias(
                "__band"
            ),
        )
    return sigs.select(
        "__id",
        "__sig",
        F.explode(
            lsh_band_keys(F.col("__sig"), num_bands, rows_per_band)
        ).alias("__band"),
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Build the persistable signature index: one row per (band key,
    doc), carrying the full signature for estimate-based verification.
    Write it with ``df.write.parquet(path)`` (repartition by ``__band``
    first if band-aligned files matter) — at 100 TB the index is
    ~num_hashes×8 bytes per doc, a ~0.1% shadow of the corpus.
    """
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signatures(
        df, text_col, id_col, shingle_len, num_hashes, base_hash=base_hash
    )
    return _banded_sigs(sigs, num_bands, rows_per_band, base_hash).select(
        F.col("__id").alias("doc_id"), F.col("__sig").alias("sig"), "__band"
    )


def minhash_index_split(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    base_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Build the SPLIT persistable index: ``(bands, sigs)`` —
    ``bands`` one narrow row per (band key, doc) ``(doc_id, __band)``
    (~16 B each), ``sigs`` ONE ``(doc_id, sig)`` row per doc. The
    combined layout (:func:`minhash_index`) duplicates the
    ``num_hashes``-long signature across all ``num_bands`` band rows,
    so at 100 TB the probe join ships ~``num_bands``× the signature
    bytes it needs; the split layout probes band rows and reads
    signatures only for verification CANDIDATES — the same ~8×
    probe-byte reduction the maintained fold measured
    (``streaming/structured.py::maintained_minhash_index``). Persist
    as two tables (bands partitioned/bucketed by ``__band``, sigs by
    id hash) and feed the tuple to
    :func:`dedup_increment_against_index`."""
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signatures(
        df, text_col, id_col, shingle_len, num_hashes, base_hash=base_hash
    )
    banded = _banded_sigs(sigs, num_bands, rows_per_band, base_hash)
    return (
        banded.select(F.col("__id").alias("doc_id"), "__band"),
        sigs.select(
            F.col("__id").alias("doc_id"), F.col("__sig").alias("sig")
        ),
    )


def dedup_increment_against_index(
    new_docs: DataFrame,
    index: DataFrame | tuple[DataFrame, DataFrame],
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket_size: int | None = 200,
    base_hash: str = "xxhash64",
    emit_pairs: bool = False,
    precomputed_sigs: DataFrame | None = None,
    eager_dead: bool = True,
) -> tuple[DataFrame, ...]:
    """Dedup an increment against a persisted index and within itself.

    ``eager_dead=False``: skip the eager
    cache-populating ``dead.count()`` job. The count is NOT semantic —
    it exists so that consumers fanning out across SEPARATE downstream
    jobs read a populated cache instead of racing to compute ``dead``
    concurrently. A maintained fold that consumes each tick's outputs
    inside ONE final action (the 3-tick query keys: every state level
    is a lazy localCheckpoint materialized by that action) pays one
    driver-synchronized multi-stage job per tick for nothing — the
    single action computes shared persisted subtrees once anyway.
    Keep the default for big standalone increments whose returned
    frames feed several separate actions.

    ``precomputed_sigs``: the caller may pass the
    :func:`minhash_signatures` frame for ``new_docs`` (same text/id
    cols, shingle_len, num_hashes, base_hash — the caller's contract)
    already materialized. The signature kernel depends only on the
    tick's rows, never on the fold state, so a loop folding several
    ticks can compute ALL ticks' signatures as concurrent jobs up
    front and keep only the cheap state-dependent probe joins serial.

    ``index`` is either the combined frame (:func:`minhash_index` —
    ``(doc_id, sig, __band)``) or the split ``(bands, sigs)`` tuple
    (:func:`minhash_index_split`). With the split layout the band-key
    probe joins only the 16-byte band rows and signatures are joined
    in for verification candidates alone — the scale path.

    Returns ``(survivors, new_index_rows)``: the increment rows that
    duplicate neither an indexed doc nor an earlier increment doc, and
    the index rows to append for them (so the next increment sees this
    one) — ``new_index_rows`` mirrors the input layout: a combined
    frame for a combined index, a ``(bands, sigs)`` tuple for a split
    index. Matching is banded-LSH candidates + signature-estimate
    verification; corpus text is never read.

    KILL RULE (shared across the maintained-dedup triad — this leg,
    ``clustering.semdedup_increment_against_index``, and the pHash
    leg): CROSS-TICK matches are survivors-only by construction (a
    dead row never enters the persisted index, so later ticks can
    never die to it), while WITHIN-TICK a new row dies on ANY
    lower-id increment row whose verified estimate clears
    ``threshold`` — dead or alive: a row killed by the index in this
    very tick still kills its own higher-id within-tick near-dups
    (they are near-dups of the indexed survivor one hop away; with
    the whole corpus as one increment this reduces to the batch
    lower-id-wins greedy rule, which the oracles replay). Both legs
    chain-kill within the tick, and both are pinned by their 3-tick
    driver oracles (``xdedup_incremental``,
    ``xminhash_index_maintained``, ``xsemdedup_incremental``).

    ``emit_pairs=True`` returns ``(survivors, new_index_rows, pairs)``
    with the verified near-dup EDGES ``(id_a, id_b)`` — indexed-doc vs
    new and new vs new — the increment feed for the persisted component
    state (``clustering.cc_increment`` / ``streaming.
    maintained_components``): fold the pairs forward and the duplicate
    CLUSTERS stay queryable across ticks, not just the survivor set.

    Scale: one shuffle to signature the increment, one band-key join of
    the (small) increment bands against the index — with the index
    stored partitioned by band, only matching index partitions are read.
    The increment's internal dedup reuses the same signatures.

    Caching discipline: the banded increment and the dead-id set (the
    two multi-consumer intermediates the returned DataFrames still read)
    are persisted and parked for release at the NEXT call — a loop
    processing many increments holds one tick's worth of blocks, flat
    over time, no ``clearCache()`` (the leak formulation this replaces
    measured 18s → 40s+ by the second uncleared call at 45k indexed
    docs). ``DEDUP_LEDGER.release()`` drops the last tick's residue.
    """
    DEDUP_LEDGER.release()
    rows_per_band = num_hashes // num_bands
    sigs = (
        precomputed_sigs
        if precomputed_sigs is not None
        else minhash_signatures(
            new_docs, text_col, id_col, shingle_len, num_hashes,
            base_hash=base_hash,
        )
    )
    # single materialization point: carries __sig, feeds the cap count,
    # both self-join legs, the index join, and new_index_rows
    banded = _banded_sigs(sigs, num_bands, rows_per_band, base_hash).persist()
    if max_bucket_size:
        # collect-mode cap doubles as the cache-populating job
        capped = _cap_buckets(banded, "__band", max_bucket_size)
    else:
        # no standalone count(): the eager dead.count() below is the
        # first action through banded and populates the cache; its
        # consumers run sequentially inside that one job, so the worst
        # case is a block-level duplicate compute of one partition —
        # cheaper than a whole extra job per call (the uncapped path
        # is the maintained-fold one: 2 eager jobs × ticks).
        capped = banded
    # The cap must hold on BOTH join sides: an uncapped index-side
    # mega-bucket (boilerplate shared by thousands of indexed docs)
    # multiplies against every increment row it matches — measured 2x+
    # slowdowns at 45k indexed docs before this guard.
    split_index = isinstance(index, tuple)
    if split_index:
        idx_bands, idx_sigs = index
        idx_bands_capped = (
            _cap_buckets(idx_bands, "__band", max_bucket_size)
            if max_bucket_size
            else idx_bands
        )
        # split probe: the band join ships only (doc_id, __band) rows;
        # signatures are joined in for verification CANDIDATES alone —
        # with the sig table stored bucketed by id hash this read is
        # partition-pruned to the candidates' buckets
        cand = (
            capped.alias("n")
            .join(
                idx_bands_capped.alias("i"),
                F.col("n.__band") == F.col("i.__band"),
            )
            .select(
                F.col("i.doc_id").alias("id_a"),
                F.col("n.__id").alias("id_b"),
                F.col("n.__sig").alias("__nsig"),
            )
            .distinct()
        )
        vs_index_pairs = (
            cand.join(
                idx_sigs.select(
                    F.col("doc_id").alias("id_a"),
                    F.col("sig").alias("__isig"),
                ),
                "id_a",
            )
            .select(
                "id_a",
                "id_b",
                estimated_jaccard(
                    F.col("__nsig"), F.col("__isig"), num_hashes
                ).alias("est"),
            )
            .filter(F.col("est") >= threshold)
            .select("id_a", "id_b")
            .distinct()
        )
    else:
        index_capped = (
            _cap_buckets(index, "__band", max_bucket_size)
            if max_bucket_size
            else index
        )

        # vs index: any new doc whose estimated jaccard to an indexed
        # doc clears the threshold is a duplicate (pairs carry BOTH ids
        # so the component-state feed can reuse the same joins)
        vs_index_pairs = (
            capped.alias("n")
            .join(
                index_capped.alias("i"),
                F.col("n.__band") == F.col("i.__band"),
            )
            .select(
                F.col("i.doc_id").alias("id_a"),
                F.col("n.__id").alias("id_b"),
                estimated_jaccard(
                    F.col("n.__sig"), F.col("i.sig"), num_hashes
                ).alias("est"),
            )
            .filter(F.col("est") >= threshold)
            .select("id_a", "id_b")
            .distinct()
        )
    vs_index = vs_index_pairs.select(
        F.col("id_b").alias("new_id")
    ).distinct()

    # within increment: lower id wins, DEAD OR ALIVE (id_a is not
    # filtered against vs_index — see the KILL RULE docstring note),
    # same estimate
    a, b = capped.alias("a"), capped.alias("b")
    within_pairs = (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            estimated_jaccard(
                F.col("a.__sig"), F.col("b.__sig"), num_hashes
            ).alias("est"),
        )
        .filter(F.col("est") >= threshold)
        .select("id_a", "id_b")
        .distinct()
    )
    within = within_pairs.select(F.col("id_b").alias("new_id")).distinct()

    # dead feeds both survivors and new_index_rows; persist the small id
    # set so the LSH joins replay once, not per consumer
    dead = vs_index.unionByName(within).distinct().persist()
    if eager_dead:
        dead.count()  # populate before survivors + new_index_rows fan out
    DEDUP_LEDGER.park(banded, dead)
    survivors = new_docs.join(
        dead.withColumnRenamed("new_id", id_col), id_col, "left_anti"
    )
    surv_banded = banded.join(
        dead, banded["__id"] == dead["new_id"], "left_anti"
    )
    if split_index:
        new_index_rows = (
            surv_banded.select(F.col("__id").alias("doc_id"), "__band"),
            sigs.join(
                dead, sigs["__id"] == dead["new_id"], "left_anti"
            ).select(
                F.col("__id").alias("doc_id"), F.col("__sig").alias("sig")
            ),
        )
    else:
        new_index_rows = surv_banded.select(
            F.col("__id").alias("doc_id"),
            F.col("__sig").alias("sig"),
            "__band",
        )
    if emit_pairs:
        return (
            survivors,
            new_index_rows,
            vs_index_pairs.unionByName(within_pairs).distinct(),
        )
    return survivors, new_index_rows


def _window_hash_arr(text_col: str, n: int):
    """The ordered per-position window-hash array of ``text_col``: the
    vectorized kernel (``functions/arrow_hash.py::
    shingle_hash_array_udf``), bit-exact with
    :func:`~kamu_engine_datafusion_spark.functions.columns
    .shingle_hash_array` over :func:`tokens` in one ArrowEvalPython."""
    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        shingle_hash_array_udf,
    )

    return shingle_hash_array_udf(n)(F.col(text_col))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
) -> DataFrame:
    """Exact duplicated-substring detection: maximal token spans of
    length ≥ ``min_len`` whose content also occurs EARLIER in the corpus
    (earlier = smaller (doc id, token position)) — the span-level exact
    dedup of the "Deduplicating Training Data" line of work, where the
    unit of deduplication is the repeated passage, not the document.

    Method: every ``min_len``-token rolling window is hashed in-row
    (:func:`~kamu_engine_datafusion_spark.functions.columns
    .shingle_hash_array` — no gram strings materialized); a window
    occurrence is duplicated iff it is not the global first occurrence
    of its gram (``row_number`` over the gram hash, ordered by
    (doc, pos) — a total order, so the canonical copy is deterministic
    and exactly one occurrence of every gram survives unmarked).
    Duplicated window starts then merge per document into maximal
    spans: two windows [p, p+k-1], [q, q+k-1] with q − p ≤ k overlap or
    touch, so a gap > k starts a new span (lag + running sum islands).

    Returns ``(id_col, span_start, span_end, span_tokens)`` — 1-based
    inclusive token positions, one row per maximal duplicated span.
    Docs shorter than ``min_len`` tokens have no window and never appear.

    Scale: the gram table is one row per corpus token (the inherent
    cost of substring-level dedup — the distributed alternative to a
    suffix array), but each row is 3 longs (hash, doc, pos), the
    first-occurrence rank is one uniform-hash shuffle with no skew cap
    needed (equal texts produce equal grams but ranking is linear in
    bucket size, never pairwise), and the span merge shuffles only the
    DUPLICATED positions keyed by doc. No joins back to text.
    """
    tok = tokens(text_col)
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(_window_hash_arr(text_col, min_len)).alias(
            "__p0", "__h"
        ),
    ).filter(F.size(tok) >= min_len)
    # 0-based posexplode → 1-based token position of the window start
    grams = grams.select("__id", (F.col("__p0") + 1).alias("__pos"), "__h")
    wg = Window.partitionBy("__h").orderBy("__id", "__pos")
    dup_pos = (
        grams.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") > 1)
        .select("__id", "__pos")
    )
    wd = Window.partitionBy("__id").orderBy("__pos")
    spans = (
        dup_pos.withColumn("__prev", F.lag("__pos").over(wd))
        .withColumn(
            "__brk",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__pos") - F.col("__prev") > min_len),
                1,
            ).otherwise(0),
        )
        .withColumn("__isl", F.sum("__brk").over(wd))
        .groupBy("__id", "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + min_len - 1).alias("span_end"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )
    return spans



def span_dedup_increment(
    state: DataFrame | None,
    tick: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """One tick of MAINTAINED substring-span dedup (the
    novelty-set device applied to :func:`duplicate_spans`): the state
    is the gram FIRST-OCCURRENCE index — the set of ``min_len``-token
    rolling-window hashes seen in all prior ticks, an append-only
    idempotent set fold — and the tick's duplicated windows are those
    whose gram is either already IN the state (an earlier tick holds
    the canonical copy) or not the first occurrence within the tick
    itself (the in-tick ``row_number`` rule). Window starts merge into
    maximal spans exactly as in the batch operator.

    CONTRACT (the append-ledger shape): ticks must arrive in the
    batch operator's canonical (doc id, pos) order — i.e. each tick's
    doc ids follow every prior tick's (contiguous id ranges, the way
    a ledger grows). Under that order the per-tick spans union to the
    batch :func:`duplicate_spans` of the whole corpus ROW-FOR-ROW
    (driver-verified: ``xspan_dedup_maintained``'s oracle IS the
    batch span oracle); a doc-id-MODULO split breaks the canonical
    order and the law deliberately does not hold there.

    Returns ``(spans, new_state)`` — spans as in
    :func:`duplicate_spans`; state one ``h`` row per distinct gram
    hash ever seen (O(corpus tokens) hashes — the inherent cost of
    substring-level dedup, 8 bytes per token instead of the text;
    bucket it by hash for pruned per-tick probes at 100 TB).

    Scale per tick: one gram explode over the TICK only, one
    uniform-hash rank within the tick, one semi-join against the
    (bucketable) state — history text is never re-tokenized."""
    tok = tokens(text_col)
    grams = (
        tick.select(
            F.col(id_col).alias("__id"),
            F.posexplode(_window_hash_arr(text_col, min_len)).alias(
                "__p0", "__h"
            ),
        )
        .filter(F.size(tok) >= min_len)
        .select("__id", (F.col("__p0") + 1).alias("__pos"), "__h")
    )
    wg = Window.partitionBy("__h").orderBy("__id", "__pos")
    intra = (
        grams.withColumn("__rn", F.row_number().over(wg))
        .filter(F.col("__rn") > 1)
        .select("__id", "__pos")
    )
    if state is None:
        dup_pos = intra
        new_state = grams.select(F.col("__h").alias("h")).distinct()
    else:
        seen = state.select(F.col("h").alias("__h"))
        in_state = grams.join(seen, "__h", "left_semi").select(
            "__id", "__pos"
        )
        dup_pos = intra.unionByName(in_state).distinct()
        new_state = (
            state.unionByName(grams.select(F.col("__h").alias("h")))
            .distinct()
        )
    wd = Window.partitionBy("__id").orderBy("__pos")
    spans = (
        dup_pos.withColumn("__prev", F.lag("__pos").over(wd))
        .withColumn(
            "__brk",
            F.when(
                F.col("__prev").isNull()
                | (F.col("__pos") - F.col("__prev") > min_len),
                1,
            ).otherwise(0),
        )
        .withColumn("__isl", F.sum("__brk").over(wd))
        .groupBy("__id", "__isl")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + min_len - 1).alias("span_end"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )
    return spans, new_state


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 20,
) -> DataFrame:
    """Cut every duplicated span found by :func:`duplicate_spans` out of
    its document and reassemble the remaining tokens (single-space
    joined, like every tokenized operator here). The canonical first
    occurrence of each passage survives; docs reduce to '' if fully
    duplicated. Returns ``(id_col, text_col)`` for ALL input docs.

    Scale: spans per doc collect into one small array (bounded by
    doc length / min_len), then the cut is an in-row filter over token
    positions — one broadcast-or-shuffle join of docs against their
    span lists, no pairwise work.
    """
    return remove_spans(
        df, duplicate_spans(df, text_col, id_col, min_len),
        text_col, id_col,
    )


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cut an ARBITRARY span table ``(id_col, span_start, span_end)``
    (1-based inclusive token positions) out of its documents and
    reassemble the remaining tokens — the cut stage of
    :func:`remove_duplicate_spans`, exposed so the MAINTAINED span
    pipeline (``span_dedup_increment``) can apply each tick's spans
    to that tick's docs without recomputing them from scratch.
    Returns ``(id_col, text_col)`` for ALL input docs (docs with no
    span row pass through re-joined; fully-spanned docs reduce to '').

    Scale: spans per doc collect into one small array (bounded by
    doc length / min span length), then the cut is an in-row filter
    over token positions — one broadcast-or-shuffle join of docs
    against their span lists, no pairwise work."""
    span_lists = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    joined = df.select(F.col(id_col), tokens(text_col).alias("__tok")).join(
        span_lists, id_col, "left"
    )
    keep = F.filter(
        F.zip_with(
            F.col("__tok"),
            F.sequence(F.lit(1), F.size("__tok")),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
        lambda s: ~F.exists(
            F.col("__spans"),
            lambda sp: (s.getField("i") >= sp.getField("span_start"))
            & (s.getField("i") <= sp.getField("span_end")),
        ),
    )
    return joined.select(
        F.col(id_col),
        F.when(F.col("__spans").isNull(), F.array_join("__tok", " "))
        .otherwise(
            F.array_join(F.transform(keep, lambda s: s.getField("t")), " ")
        )
        .alias(text_col),
    )


def remove_common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Corpus-frequency boilerplate removal (the CCNet/RefinedWeb line
    filter): any line occurring in at least ``min_docs`` DISTINCT
    documents is boilerplate (headers, footers, cookie banners) and is
    removed from EVERY document — unlike :func:`paragraph_dedup`, not
    even the first occurrence survives. Documents reassemble from their
    surviving lines; fully-boilerplate docs come back as ''.

    Returns ``(id_col, text_col)``. Scale: one shuffle keyed by line
    content for the distinct-doc count (uniform hash keys), one groupBy
    to reassemble — linear, no pairwise joins, text never re-scanned.
    """
    import re

    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "__pos", "__line"
        ),
    )
    wl = Window.partitionBy("__line")
    kept = (
        lines.withColumn(
            "__df", F.size(F.collect_set("__id").over(wl))
        )
        .filter(F.col("__df") < min_docs)
        .drop("__df")
    )
    reassembled = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("__pos"), F.col("__line")))
                ),
                lambda s: s.getField("__line"),
            ),
            sep,
        ).alias(text_col)
    )
    return (
        df.select(F.col(id_col))
        .join(reassembled, df[id_col] == reassembled["__id"], "left")
        .select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col))
    )


def dedup_cross_corpus(
    df: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
    broadcast_reference: bool = False,
) -> DataFrame:
    """Cross-corpus EXACT dedup: drop rows of ``df`` whose normalized
    content hash appears anywhere in ``reference`` — the train-vs-eval
    (or new-crawl-vs-released-corpus) exact-overlap removal that runs
    BEFORE the fuzzy stages (``dedup_increment_against_index`` for
    near-dup, ``decontaminate`` for n-gram overlap).

    Normalization matches :func:`exact_dedup` (lowercase, collapsed
    whitespace); ``hash_fn="md5"`` makes the hash plain-SQL
    reproducible for the cross-engine oracle, ``"xxhash64"`` is the
    fast JVM default — identical survivor sets either way.

    Scale: hashes are computed scan-side on BOTH corpora; the anti-join
    shuffles only 1 hash + id per row (never text). With a benchmark-
    sized reference, ``broadcast_reference=True`` removes the corpus
    shuffle entirely (the standard decontamination shape).
    """
    def h(c):
        n = normalize_text(c)
        # null-guard BOTH hashes: xxhash64(null) is the non-null seed
        # constant (42), so without the guard two null-text rows would
        # cross-match in xxhash64 mode but not in md5 mode (md5(null)
        # IS null, and null join keys match nothing) — breaking the
        # identical-survivor-sets contract between the two backends
        raw = F.md5(n) if hash_fn == "md5" else F.xxhash64(n).cast("string")
        return F.when(n.isNotNull(), raw)

    ref = reference.select(h(F.col(text_col)).alias("__xh")).distinct()
    if broadcast_reference:
        ref = F.broadcast(ref)
    return (
        df.withColumn("__xh", h(F.col(text_col)))
        .join(ref, "__xh", "left_anti")
        .drop("__xh")
    )


def cross_source_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    hash_fn: str = "md5",
) -> DataFrame:
    """Pairwise CONTENT-overlap matrix between sources: for every
    unordered source pair (a < b), how many distinct normalized texts
    appear in BOTH, each side's distinct-content total, and the Jaccard
    of the two content sets — the provenance-leakage audit a corpus
    release runs before claiming sources are independent (mirrors /
    crawls / re-posts show up as high-Jaccard pairs; the per-pair
    numbers also predict how much :func:`exact_dedup` will shrink a
    union of the sources).

    Normalization matches :func:`exact_dedup`; ``hash_fn="md5"`` is the
    plain-SQL-reproducible oracle form, ``"xxhash64"`` the fast JVM
    profile (identical matrix either way — null texts are excluded
    under the same guard as :func:`dedup_cross_corpus`).

    Scale: hashes are computed scan-side (text never shuffles); one
    distinct on (hash, source); the per-hash source set is bounded by
    the source VOCABULARY (not the corpus), so the double explode emits
    ≤ |sources|² rows per distinct text; per-source totals are a tiny
    broadcast. Output is |sources|²-bounded.
    """
    n = normalize_text(F.col(text_col))
    raw = F.md5(n) if hash_fn == "md5" else F.xxhash64(n).cast("string")
    h = F.when(n.isNotNull(), raw)
    hs = (
        df.select(h.alias("__h"), F.col(group_col).alias("__s"))
        .filter(F.col("__h").isNotNull())
        .distinct()
    )
    totals = hs.groupBy("__s").agg(F.count(F.lit(1)).alias("__n"))
    sets_ = (
        hs.groupBy("__h")
        .agg(F.collect_set("__s").alias("__ss"))
        .filter(F.size("__ss") >= 2)
    )
    pairs = (
        sets_.select(F.explode("__ss").alias("src_a"), "__ss")
        .select("src_a", F.explode("__ss").alias("src_b"))
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ta = F.broadcast(totals.select(F.col("__s").alias("src_a"), F.col("__n").alias("n_a")))
    tb = F.broadcast(totals.select(F.col("__s").alias("src_b"), F.col("__n").alias("n_b")))
    jac = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        pairs.join(ta, "src_a")
        .join(tb, "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (F.floor(jac * 10000 + F.lit(0.5)) / 10000).alias("jaccard"),
        )
    )


def minhash_lsh_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_len: int = 3,
    num_hashes: int = 32,
    num_bands: int = 8,
    max_bucket_size: int | None = 200,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Audit companion to :func:`minhash_lsh_dedup`: one row per
    DROPPED document with its lowest-id matching partner and the
    verified Jaccard — the drop-reason table a curation pipeline ships
    for review ("why did doc X disappear?"). The dropped-id set is
    EXACTLY the set :func:`minhash_lsh_dedup` removes under the same
    parameters (same candidates, same verification, same raw-precision
    threshold compare); the reported ``jaccard`` is half-up 6dp for
    cross-engine hash stability.

    Scale: identical shape to the dedup itself (the report IS its
    verification stage, re-projected); output is dropped-cardinality.
    """
    from kamu_engine_datafusion_spark.functions.columns import half_up

    DEDUP_LEDGER.release()
    handles: list[DataFrame] = []
    cand = minhash_lsh_candidates(
        df,
        text_col,
        id_col,
        shingle_len,
        num_hashes,
        num_bands,
        max_bucket_size,
        base_hash,
        _cleanup=handles,
    ).persist()
    cand.count()
    ver = verified_jaccard(
        df,
        cand,
        text_col,
        id_col,
        shingle_len,
        use_hashed_shingles=(base_hash != "poly"),
    ).filter(F.col("jaccard") >= threshold)
    w = Window.partitionBy("id_b").orderBy(F.col("id_a"))
    rep = (
        ver.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("id_b").alias("dropped_id"),
            F.col("id_a").alias("matched_id"),
            half_up(F.col("jaccard"), 6).alias("jaccard"),
        )
        .persist()
    )
    rep.count()
    for h in (*handles, cand):
        h.unpersist(blocking=True)
    DEDUP_LEDGER.park(rep)
    return rep


def phash_index(
    media: DataFrame,
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    num_blocks: int = 4,
) -> DataFrame:
    """Build the persistable pHash index: one row per (pigeonhole
    chunk, image), carrying the full 64-bit fingerprint for exact
    Hamming verification — the image twin of :func:`minhash_index`
    (same continuous-ingestion contract: write with
    ``df.write.parquet(path)``, partition by ``__block`` if
    block-aligned files matter; ~8+ bytes per image per chunk, a
    vanishing shadow of the blobs themselves).
    """
    hi = F.conv(F.substring(phash_col, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(phash_col, 9, 8), 16, 10).cast("long")
    fps = media.select(
        F.col(id_col).alias("media_id"),
        F.shiftleft(hi, 32).bitwiseOR(lo).alias("fp"),
    )
    chunks = _pigeonhole_chunks(64, max_hamming, num_blocks, fp_col="fp")
    return fps.withColumn("__block", F.explode(F.array(*chunks)))


def phash_increment_against_index(
    new_media: DataFrame,
    index: DataFrame,
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_hamming: int = 3,
    num_blocks: int = 4,
    emit_pairs: bool = False,
) -> tuple[DataFrame, ...]:
    """Dedup an IMAGE increment against a persisted pHash index and
    within itself — the multimodal leg of the continuous-ingestion
    dedup path (:func:`dedup_increment_against_index` for text): blobs
    are never re-decoded; matching is pigeonhole block join + exact
    64-bit Hamming ≤ ``max_hamming`` (recall GUARANTEED for
    ``max_hamming <= num_blocks - 1``), survivor policy is
    lower-id-wins within the increment, any-index-match-dies against
    the index.

    Returns ``(survivors, new_index_rows)`` — or with
    ``emit_pairs=True`` also the verified near-dup EDGES (indexed-vs-
    new and new-vs-new), the feed for the persisted component state
    exactly like the text path.

    Scale: one block-key join of the (small) increment's chunk rows
    against the index — stored partitioned by ``__block``, only
    matching partitions are read; the increment's internal dedup
    reuses the same chunk rows.
    """
    DEDUP_LEDGER.release()
    inc = phash_index(
        new_media, id_col, phash_col, max_hamming, num_blocks
    ).persist()
    inc.count()  # populate before the join legs fan out
    DEDUP_LEDGER.park(inc)

    vs_index_pairs = (
        inc.alias("n")
        .join(index.alias("i"), F.col("n.__block") == F.col("i.__block"))
        .select(
            F.col("i.media_id").alias("id_a"),
            F.col("n.media_id").alias("id_b"),
            hamming64(F.col("n.fp"), F.col("i.fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b")
        .distinct()
    )
    a, b = inc.alias("a"), inc.alias("b")
    within_pairs = (
        a.join(
            b,
            (F.col("a.__block") == F.col("b.__block"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            hamming64(F.col("a.fp"), F.col("b.fp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b")
        .distinct()
    )
    dead = (
        vs_index_pairs.select(F.col("id_b").alias("media_id"))
        .unionByName(within_pairs.select(F.col("id_b").alias("media_id")))
        .distinct()
        .persist()
    )
    dead.count()  # populate before survivors + new_index_rows fan out
    DEDUP_LEDGER.park(dead)
    survivors = new_media.join(
        dead.withColumnRenamed("media_id", id_col), id_col, "left_anti"
    )
    new_index_rows = inc.join(dead, "media_id", "left_anti").select(
        "media_id", "fp", "__block"
    )
    if emit_pairs:
        return (
            survivors,
            new_index_rows,
            vs_index_pairs.unionByName(within_pairs).distinct(),
        )
    return survivors, new_index_rows


def dedup_trajectory_increment(
    state: DataFrame | None,
    tick: DataFrame,
    tick_id: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    dp: int = 4,
) -> tuple[DataFrame, DataFrame]:
    """One tick of the maintained DEDUP-RATE TRAJECTORY — the curation
    health metric a 100 TB ingest dashboards per tick: how much of each
    arriving batch is already-seen content. Returns ``(stats, new_state)``:

    - ``stats``: ONE row ``(tick, n_docs, n_kept, n_dup, dup_rate)``
      — ``n_kept`` counts the tick's docs that are the FIRST
      occurrence of their normalized content (hash not yet in the
      index AND lowest ``id_col`` among the tick's same-hash docs —
      first-ARRIVAL wins across ticks, the ingestion-order semantic,
      vs the batch :func:`exact_dedup`'s global-min-id rule);
      ``dup_rate = n_dup / n_docs``, half-up ``dp``.
    - ``new_state``: the content-hash index after the tick — one
      ``__h`` row per distinct normalized content seen so far
      (append-only set union: idempotent semilattice, double-apply
      safe; NULL texts share one hash group, the
      :func:`exact_dedup` convention).

    A rising trajectory is the crawl-loop alarm (the feed is
    re-serving known content); a falling one measures dedup debt paid
    down. Scale: per tick one hash-keyed aggregate over the tick ∪ a
    hash-join against the index — O(tick + touched state); the stats
    log is ticks-sized; history is never re-hashed."""
    from kamu_engine_datafusion_spark.functions.columns import half_up

    h = tick.select(
        F.col(id_col).alias("__id"),
        F.xxhash64(normalize_text(text_col)).alias("__h"),
    )
    w = Window.partitionBy("__h").orderBy("__id")
    ranked = h.withColumn("__rn", F.row_number().over(w))
    if state is not None:
        ranked = ranked.join(
            state.select("__h").withColumn("__known", F.lit(1)),
            "__h",
            "left",
        )
    else:
        ranked = ranked.withColumn("__known", F.lit(None).cast("int"))
    kept_flag = (F.col("__rn") == 1) & F.col("__known").isNull()
    stats = ranked.agg(
        F.lit(tick_id).cast("long").alias("tick"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(kept_flag.cast("long")).cast("long").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(kept_flag.cast("long")))
        .cast("long")
        .alias("n_dup"),
        half_up(
            (F.count(F.lit(1)) - F.sum(kept_flag.cast("long")))
            / F.count(F.lit(1)),
            dp,
        ).alias("dup_rate"),
    )
    inc = h.select("__h").distinct()
    new_state = (
        inc
        if state is None
        else inc.unionByName(state.select("__h")).distinct()
    )
    return stats, new_state
