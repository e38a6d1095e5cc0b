"""Benchmark decontamination: exact and fuzzy n-gram overlap flagging."""

from __future__ import annotations

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.decontaminate import (
    flag_contaminated,
)


def test_flag_and_remove(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the capital of france is paris obviously"),
            (2, "completely unrelated musings about spark shuffles"),
            (3, "what is the capital of france asked nobody"),
        ],
        ["doc_id", "text"],
    )
    benchmark = spark.createDataFrame(
        [(100, "question: the capital of france is which city")],
        ["doc_id", "text"],
    )
    flagged = {
        r["doc_id"]: (r["n_overlaps"], r["contaminated"])
        for r in flag_contaminated(corpus, benchmark, shingle_len=3).collect()
    }
    assert flagged[1][1] is True  # shares "the capital of" / "capital of france"
    assert flagged[3][1] is True
    assert flagged[2] == (0, False)


def test_fuzzy_decontamination_catches_paraphrase(spark):
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        fuzzy_flag_contaminated,
    )

    bench = spark.createDataFrame(
        [(900, "the capital of france is paris and the capital of spain is madrid")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            # near-dup of the benchmark row (one word changed)
            (1, "the capital of france is paris and the capital of spain is barcelona"),
            # unrelated
            (2, "completely different text about query engines and columnar io"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.max_est, r.contaminated)
        for r in fuzzy_flag_contaminated(
            corpus, bench, threshold=0.5, num_hashes=16, num_bands=4
        ).collect()
    }
    assert out[1][1] is True and out[1][0] >= 0.5
    assert out[2][1] is False and out[2][0] == 0.0


def test_fuzzy_decontamination_exact_dup_est_one(spark):
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        fuzzy_flag_contaminated,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    bench = spark.createDataFrame([(900, text)], ["doc_id", "text"])
    corpus = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    row = fuzzy_flag_contaminated(corpus, bench).collect()[0]
    assert row.max_est == 1.0 and row.contaminated is True


def test_ngram_novelty_bounds_and_conventions(spark):
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        ngram_novelty,
    )

    ref = spark.createDataFrame(
        [(1, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox"),      # all bigrams known -> 0.0
            (11, "zebra xylophone quince"),   # disjoint -> 1.0
            (12, "word"),                     # < 2 tokens -> 1.0, 0 ngrams
            (13, "the quick zebra xylophone"),  # 1 of 3 known
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r for r in ngram_novelty(corpus, ref, n=2).collect()
    }
    assert rows[10]["novelty"] == 0.0 and rows[10]["n_novel"] == 0
    assert rows[11]["novelty"] == 1.0
    assert rows[12]["n_ngrams"] == 0 and rows[12]["novelty"] == 1.0
    assert rows[13]["n_ngrams"] == 3 and rows[13]["n_novel"] == 2
    assert rows[13]["novelty"] == 0.6667  # half-up 4dp of 2/3


def test_bloom_flag_equals_direct_flag(spark):
    """The Bloom prefilter + exact verify must equal flag_contaminated
    EXACTLY — no false negatives by Bloom's construction, no false
    positives after the verify join — on the real fixture corpus with
    a real overlapping benchmark slice."""
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_flag_contaminated,
        flag_contaminated,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 0).select("text")
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    direct = sorted(
        tuple(r)
        for r in flag_contaminated(corpus, bench, threshold=2).collect()
    )
    bloom = sorted(
        tuple(r)
        for r in bloom_flag_contaminated(
            corpus, bench, threshold=2
        ).collect()
    )
    assert bloom == direct and len(bloom) > 0
    # ... including with a DELIBERATELY undersized, collision-heavy
    # bitmap (high fpr): the verify stage must still kill every false
    # positive
    tiny = sorted(
        tuple(r)
        for r in bloom_flag_contaminated(
            corpus, bench, threshold=2, m_bits=1 << 10, k_hashes=2
        ).collect()
    )
    assert tiny == direct


def test_bloom_prefilter_passes_all_members(spark):
    """No false negatives: every benchmark shingle must test positive
    against the bitmap built from it."""
    from kamu_engine_datafusion_spark.functions.columns import (
        minhash_coeffs,
        tokens,
        word_shingles,
    )
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_build,
    )
    from tests.jvm_twins import bloom_member, hash31_fold

    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",),
         ("pack my box with five dozen liquor jugs",)],
        "text string",
    )
    m_bits, k = 1 << 12, 3
    bm_list = bloom_build(bench, m_bits=m_bits, k_hashes=k)
    bm = F.array(*[F.lit(w).cast("long") for w in bm_list])
    coeffs = minhash_coeffs(k, 17)
    hits = bench.select(
        F.size(
            F.filter(
                F.transform(
                    F.array_distinct(word_shingles(tokens("text"), 3)),
                    lambda s: hash31_fold(s, "xxhash64"),
                ),
                lambda h: bloom_member(h, bm, coeffs, m_bits),
            )
        ).alias("n_pos"),
        F.size(
            F.array_distinct(word_shingles(tokens("text"), 3))
        ).alias("n_all"),
    ).collect()
    assert all(r["n_pos"] == r["n_all"] for r in hits)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

_words = hst.lists(
    hst.text(alphabet="abcdefghij", min_size=1, max_size=5),
    min_size=3,
    max_size=30,
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=hst.lists(_words, min_size=1, max_size=6),
       m_pow=hst.integers(min_value=8, max_value=14),
       k=hst.integers(min_value=1, max_value=5))
def test_bloom_no_false_negatives_any_corpus(spark, docs, m_pow, k):
    """For ANY benchmark corpus and ANY (m, k): every member shingle
    tests positive against the bitmap built from it — the property the
    exact-equivalence of the two-phase operator rests on."""
    from kamu_engine_datafusion_spark.functions.columns import (
        minhash_coeffs,
        tokens,
        word_shingles,
    )
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_build,
    )
    from tests.jvm_twins import bloom_member, hash31_fold

    bench = spark.createDataFrame(
        [(" ".join(ws),) for ws in docs], "text string"
    )
    m_bits = 1 << m_pow
    bm_list = bloom_build(bench, m_bits=m_bits, k_hashes=k)
    bm = F.array(*[F.lit(w).cast("long") for w in bm_list])
    coeffs = minhash_coeffs(k, 17)
    rows = bench.select(
        F.size(
            F.filter(
                F.transform(
                    F.array_distinct(word_shingles(tokens("text"), 3)),
                    lambda s: hash31_fold(s, "xxhash64"),
                ),
                lambda h: bloom_member(h, bm, coeffs, m_bits),
            )
        ).alias("n_pos"),
        F.size(
            F.array_distinct(word_shingles(tokens("text"), 3))
        ).alias("n_all"),
    ).collect()
    assert all(r["n_pos"] == r["n_all"] for r in rows)


def test_word_ngrams_short_docs_general_n(spark):
    """r16 advice fix: the general-n (n>=3) gram path must yield ZERO
    n-grams for documents shorter than n tokens (empty text included)
    instead of throwing INVALID_PARAMETER_VALUE.START from the
    descending sequence(1, 0) + slice(tv, 0, n) it used to build —
    and ngram_novelty's inline helper shares the guard (short docs
    score 1.0 by the zero-gram convention)."""
    from kamu_engine_datafusion_spark.operators.decontaminate import (
        ngram_novelty,
        word_ngrams_expr,
    )

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a"), (3, ""), (4, "x y"), (5, "a b c")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", word_ngrams_expr("text", 3).alias("g")
        ).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[5] == ["a b c"]
    assert got[2] == [] and got[3] == [] and got[4] == []

    ref = spark.createDataFrame([(10, "a b c")], "doc_id long, text string")
    nov = {
        r["doc_id"]: (r["n_ngrams"], r["novelty"])
        for r in ngram_novelty(df, ref, n=3).collect()
    }
    assert nov[1] == (2, 0.5)  # 'a b c' known, 'b c d' novel
    assert nov[2] == (0, 1.0)
    assert nov[3] == (0, 1.0)
    assert nov[4] == (0, 1.0)


def test_bloom_build_backend_twins(spark):
    """The vectorized build kernel (bloom_positions_udf) produces the
    EXACT bitmap of the interpreted shingle/rehash build — both hash
    profiles, incl. null/empty/short texts."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_build,
    )
    from tests import jvm_twins as J

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one two"),
         (9004, "x\ty\nz\t"), (9005, "Ünïcödé shingle tokens here")],
        "doc_id long, text string",
    )
    bench = docs.filter(F.col("doc_id") >= 450).unionByName(edge)

    for hash_fn in ("xxhash64", "poly"):
        kw = dict(shingle_len=5, m_bits=1 << 16, k_hashes=4, hash_fn=hash_fn)
        arrow = bloom_build(bench, **kw)
        assert arrow == J.bloom_build_fold(bench, **kw), hash_fn
        assert any(arrow), hash_fn


def test_bloom_scan_backend_twins(spark):
    """The vectorized Bloom phase-1 prefilter
    (bloom_candidate_shingles_udf) and phase-2 shingle set
    (word_shingle_set_udf) flag the exact same documents with the exact
    same overlap counts as the interpreted HOF pipeline — under both
    hash profiles, incl. null/empty/short texts."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_flag_contaminated,
    )
    from tests import jvm_twins as J

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one two"),
         (9004, "x\ty\nz\t"), (9005, "Ünïcödé shingle tokens here")],
        "doc_id long, text string",
    )
    corpus = docs.filter(F.col("doc_id") < 400).unionByName(edge)
    bench = docs.filter(F.col("doc_id") >= 450)

    def run(fn, hash_fn):
        return sorted(
            map(
                tuple,
                fn(
                    corpus, bench, shingle_len=5, threshold=1,
                    m_bits=1 << 16, k_hashes=4, hash_fn=hash_fn,
                ).collect(),
            )
        )

    for hash_fn in ("xxhash64", "poly"):
        arrow = run(bloom_flag_contaminated, hash_fn)
        assert arrow == run(J.bloom_flag_contaminated_fold, hash_fn), hash_fn
        assert any(r[2] for r in arrow), hash_fn
