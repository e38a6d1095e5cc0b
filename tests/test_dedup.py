"""Dedup operators and their kernels against the reference
formulations in ``tests/jvm_twins.py`` — ``operators/dedup.py`` and
``functions/arrow_hash.py``."""



def test_minhash_signature_layouts_identical(spark):
    """The arrow signature kernel must produce exactly the explode +
    groupBy reference's signatures for both hash profiles — including
    dropping shingle-less docs the same way, and the whitespace edges
    Spark's space-only ``trim`` leaves as empty tokens."""
    from kamu_engine_datafusion_spark.operators.dedup import (
        minhash_signatures,
    )
    from tests import jvm_twins as J

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text entirely here now"),
            (4, "too short"),  # < shingle_len tokens -> no shingles
            (5, ""),
            (6, None),
            (7, "  padded   whitespace  "),
            (8, "trailing tab\t"),
            (9, " \t mixed ends \n "),
        ],
        "doc_id long, text string",
    )
    for bh in ("xxhash64", "poly"):
        a = {
            r["__id"]: list(r["__sig"])
            for r in minhash_signatures(df, base_hash=bh).collect()
        }
        b = {
            r["__id"]: list(r["__sig"])
            for r in J.minhash_signatures_explode(
                df, base_hash=bh
            ).collect()
        }
        assert a == b  # identical ids AND identical signature vectors
        assert 1 in a and 2 in a and a[1] != a[2]
    # the xxhash64 profile drops NULL text; poly keeps it as "" (above)
    assert 6 not in {
        r["__id"] for r in minhash_signatures(df).collect()
    }


def test_resolve_fan_out_rule(spark, tmp_path):
    """The one fan-out rule of the arrow kernels: one task per
    ``target_bytes`` of uncompressed footer bytes, capped at the
    default parallelism; None for an in-memory frame, a small input, a
    frame that already has the width, or a non-Parquet input."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kamu_engine_datafusion_spark.operators.dedup import (
        _resolve_fan_out,
    )

    assert _resolve_fan_out(
        spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    ) is None

    path = str(tmp_path / "one.parquet")
    pq.write_table(
        pa.table({"doc_id": list(range(50)), "text": ["a b c d"] * 50}), path
    )
    md = pq.ParquetFile(path).metadata
    size = sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    assert _resolve_fan_out(one) is None  # far under 2 MiB
    want = min(spark.sparkContext.defaultParallelism, size)
    assert want > 1
    assert _resolve_fan_out(one, target_bytes=1) == want
    assert _resolve_fan_out(one.repartition(want), target_bytes=1) is None

    csv = tmp_path / "one.csv"
    csv.write_text("doc_id,text\n1,a b c\n")
    assert _resolve_fan_out(
        spark.read.csv(str(csv), header=True), target_bytes=1
    ) is None  # no Parquet footer to size


def test_dedup_cross_corpus_exact_overlap_and_nulls(spark):
    """Rows whose normalized text appears in the reference are dropped
    (case/whitespace-insensitively); null-text rows survive (no hash,
    no match); md5 and xxhash64 produce the SAME survivor set."""
    from kamu_engine_datafusion_spark.operators.dedup import (
        dedup_cross_corpus,
    )

    ref = spark.createDataFrame(
        [(100, "Hello World"), (101, "released doc")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (0, "hello   world"),   # normalized dup of ref -> dropped
            (1, "fresh document"),
            (2, None),              # null text -> kept
            (3, "RELEASED DOC"),    # dup -> dropped
        ],
        "doc_id long, text string",
    )
    for hf in ("xxhash64", "md5"):
        kept = sorted(
            r["doc_id"]
            for r in dedup_cross_corpus(corpus, ref, hash_fn=hf).collect()
        )
        assert kept == [1, 2], hf
    # null text on BOTH sides must never cross-match in EITHER mode
    # (xxhash64(null) is a non-null constant — guarded to null)
    ref_n = spark.createDataFrame(
        [(100, "Hello World"), (101, None)], "doc_id long, text string"
    )
    for hf in ("xxhash64", "md5"):
        kept = sorted(
            r["doc_id"]
            for r in dedup_cross_corpus(corpus, ref_n, hash_fn=hf).collect()
        )
        assert kept == [1, 2, 3], hf  # doc 2 (null) survives both modes
    # broadcast form: same result, and the plan broadcasts the reference
    out = dedup_cross_corpus(corpus, ref, broadcast_reference=True)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


def test_minhash_report_drop_set_matches_dedup(spark):
    """The audit report must explain EXACTLY the docs the dedup drops:
    dropped_id set == (corpus − survivors), matched_id is always a
    lower id, and jaccard ≥ threshold."""
    from kamu_engine_datafusion_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_report,
    )

    base = "some shared boilerplate text about spark shuffles and joins"
    rows = [(i, f"{base} variant {i % 3}") for i in range(12)]
    rows += [(100 + i, f"totally unique document {i} with fresh words {i*7}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(threshold=0.6, num_hashes=16, num_bands=4, max_bucket_size=None)
    survivors = {r["doc_id"] for r in minhash_lsh_dedup(df, **kw).collect()}
    report = minhash_lsh_report(df, **kw).collect()
    dropped = {r["dropped_id"] for r in report}
    assert dropped == {r[0] for r in rows} - survivors
    for r in report:
        assert r["matched_id"] < r["dropped_id"]
        assert r["jaccard"] >= 0.6


def test_cross_source_overlap_matrix(spark):
    """Known content sets → exact matrix: shared counts, per-side
    distinct totals (dup texts within a source count once), Jaccard,
    null texts excluded, non-overlapping pairs absent, and the md5 /
    xxhash64 profiles produce the identical matrix."""
    from kamu_engine_datafusion_spark.operators.dedup import (
        cross_source_overlap,
    )

    rows = [
        # a: {t1, t2, t3}  b: {t2, t3, t4}  c: {t9}  (t2 dup'd in a;
        # whitespace/case variants must collapse; one null text)
        (1, "a", "alpha beta"),        # t1
        (2, "a", "Gamma  Delta"),      # t2
        (3, "a", "gamma delta"),       # t2 (dup within a)
        (4, "a", "epsilon"),           # t3
        (5, "b", "GAMMA DELTA"),       # t2
        (6, "b", "epsilon"),           # t3
        (7, "b", "zeta"),              # t4
        (8, "c", "omega"),             # t9
        (9, "c", None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    for hash_fn in ("md5", "xxhash64"):
        got = {
            (r["src_a"], r["src_b"]): r
            for r in cross_source_overlap(df, hash_fn=hash_fn).collect()
        }
        assert set(got) == {("a", "b")}
        r = got[("a", "b")]
        assert (r["n_shared"], r["n_a"], r["n_b"]) == (2, 3, 3)
        assert r["jaccard"] == 0.5  # 2 / (3 + 3 - 2)


def test_arrow_xxhash64_matches_spark(spark):
    """r16: the numpy xxhash64 (the arrow signature backend's base
    hash) must be BIT-EXACT with Spark's F.xxhash64 across every code
    path — empty, sub-word, word/4-byte/byte tails, the 32-byte
    stripe loop, and multi-byte UTF-8."""
    import random
    import string

    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        xxhash64_bytes,
    )

    rng = random.Random(1234)
    cases = [
        "", "a", "ab", "abc", "abcd", "abcde", "abcdefg", "abcdefgh",
        "abcdefghi", "abcdefghijk", "0123456789abcde",
        "x" * 31, "y" * 32, "z" * 33, "w" * 40, "v" * 63, "u" * 64,
        "t" * 65, "s" * 100,
        "héllo wörld ünïcode", "漢字テスト", "emoji 🙂 mixed",
    ]
    for _ in range(200):
        k = rng.randint(0, 80)
        cases.append(
            "".join(rng.choice(string.printable) for _ in range(k))
        )
    jvm = [
        r[0]
        for r in spark.createDataFrame([(c,) for c in cases], "t string")
        .select(F.xxhash64("t"))
        .collect()
    ]
    mine = xxhash64_bytes([c.encode("utf-8") for c in cases])
    assert [int(m) for m in mine] == jvm


def test_arrow_tokens_match_jvm(spark):
    """java_tokens must reproduce split(trim(lower(s)), '\\s+') with
    Java semantics: trim strips ALL chars <= U+0020 (a superset of
    regex \\s), \\s is the ASCII six, empty input yields ['']."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        java_tokens,
    )
    from kamu_engine_datafusion_spark.functions.columns import tokens

    cases = [
        "", " ", "a", " a ", "a b", "  A  B\tC\n", "a\x0bb\x0cc\rd",
        "\x01ctrl\x02 padded\x1f", "Mixed CASE Words",
        "tab\t\ttab", "many   spaces   here",
        # non-ASCII casing parity (JVM default-locale toLowerCase vs
        # Python str.lower — must agree under this container's
        # root-equivalent locale; arrow_hash.java_tokens docstring
        # documents the tr_TR-style caveat):
        "Élan ÉLAN Über STRASSE Straße",
        "ΣΊΣΥΦΟΣ ὈΔΥΣΣΕΎΣ",  # Greek incl. final-sigma mapping
        "МОСКВА Москва ЇЖАК",  # Cyrillic
        "İstanbul I ı İ i",  # dotted/dotless I data (en locale)
        "ＦＵＬＬＷＩＤＴＨ　ＴＥＸＴ",  # fullwidth + ideographic space
        "日本語 テキスト 中文",  # CJK (no casing)
        "café CAFÉ ﬁ ﬂ",  # ligatures (lower is identity)
    ]
    jvm = [
        r["t"]
        for r in spark.createDataFrame([(c,) for c in cases], "s string")
        .select(tokens("s").alias("t"))
        .collect()
    ]
    assert [java_tokens(c) for c in cases] == [list(t) for t in jvm]


def test_minhash_arrow_layout_identical_and_dedup_equal(spark, monkeypatch):
    """On the real corpus slice plus edge docs, the arrow signature
    kernel must produce the explode reference's EXACT signatures for
    both hash profiles (same dropped docs, same vectors — partial-
    shingle short docs included), and the full LSH dedup must keep the
    same survivors when the reference computes its signatures."""
    from kamu_engine_datafusion_spark.operators import dedup as D
    from tests import jvm_twins as J

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (9001, None),
            (9002, ""),
            (9003, "word"),
            (9004, "two words"),
            (9005, "  padded   whitespace  "),
            (9006, "a\tb\nc"),
            (9007, "SHOUTED TEXT"),
            # non-space whitespace at the ends survives Spark's trim
            # (spaces only) and exposes empty edge tokens in the split
            (9008, "trailing tab\t"),
            (9009, "\nleading newline"),
            (9010, " \t mixed ends \n "),
        ],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)
    for bh in ("xxhash64", "poly"):
        a = {
            r["__id"]: list(r["__sig"])
            for r in D.minhash_signatures(
                d, id_col="doc_id", base_hash=bh
            ).collect()
        }
        b = {
            r["__id"]: list(r["__sig"])
            for r in J.minhash_signatures_explode(
                d, id_col="doc_id", base_hash=bh
            ).collect()
        }
        assert a == b, bh
        # the xxhash64 profile drops null-text docs; the poly/
        # word_shingles profile KEEPS them (NULL behaves like "": one
        # empty shingle)
        assert (9001 in a) == (bh == "poly")

    def survivors(bh):
        out = sorted(
            r["doc_id"]
            for r in D.minhash_lsh_dedup(
                d, threshold=0.7, base_hash=bh
            ).collect()
        )
        D.DEDUP_LEDGER.release()
        return out

    arrow = {bh: survivors(bh) for bh in ("xxhash64", "poly")}
    monkeypatch.setattr(
        D, "minhash_signatures", J.minhash_signatures_explode
    )
    for bh, surv in arrow.items():
        assert surv == survivors(bh), bh
        assert 0 < len(surv) < d.count()


def test_arrow_shingle_sets_match_jvm(spark):
    """The vectorized shingle-set build of verified_jaccard must
    produce the exact distinct
    shingle-hash SET of array_distinct(shingle_hash_array(...)) per
    doc — order-insensitive (sets)."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        shingle_hash_set_udf,
    )
    from kamu_engine_datafusion_spark.functions.columns import (
        shingle_hash_array,
        tokens,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one"), (9004, "a b"),
         (9005, "x\ty\nz\t")],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)
    jvm = {
        r["doc_id"]: (
            sorted(r["s"]) if r["s"] is not None else None
        )
        for r in d.select(
            "doc_id",
            F.array_distinct(
                shingle_hash_array(tokens("text"), 3)
            ).alias("s"),
        ).collect()
    }
    arw = {
        r["doc_id"]: (
            sorted(r["s"]) if r["s"] is not None else None
        )
        for r in d.select(
            "doc_id", shingle_hash_set_udf(3)(F.col("text")).alias("s")
        ).collect()
    }
    assert jvm == arw


def test_word_shingle_set_arrow_matches_jvm(spark):
    """r17: the vectorized distinct word-shingle STRING sets (the poly
    profile's verified_jaccard build) equal
    array_distinct(word_shingles(tokens(text), n)) per doc — as sets
    (consumers are intersect/size), incl. null/empty/short docs."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        word_shingle_set_udf,
    )
    from kamu_engine_datafusion_spark.functions.columns import (
        tokens,
        word_shingles,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "one"), (9004, "a b"),
         (9005, "x\ty\nz\t"), (9006, "  padded  words here  ")],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)
    for n in (3, 5):
        rows = d.select(
            "doc_id",
            F.array_distinct(
                word_shingles(tokens("text"), n)
            ).alias("jvm"),
            word_shingle_set_udf(n)(F.col("text")).alias("arrow"),
        ).collect()
        for r in rows:
            # NULL text yields [''] on BOTH paths (word_shingles's rule)
            assert r["jvm"] is not None and r["arrow"] is not None
            assert sorted(r["jvm"]) == sorted(r["arrow"]), r["doc_id"]


def test_span_scan_backend_twins(spark, monkeypatch):
    """The vectorized window-hash kernel (shingle_hash_array_udf)
    yields the exact duplicate_spans rows of the interpreted
    slice/zip_with form (patched in from the test-side reference) —
    incl. short docs (filtered), tail pads, and null text."""
    from kamu_engine_datafusion_spark.operators import dedup as D2
    from kamu_engine_datafusion_spark.operators.dedup import (
        duplicate_spans,
    )
    from tests import jvm_twins as J

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edge = spark.createDataFrame(
        [(9001, None), (9002, ""), (9003, "short doc"),
         (9004, " ".join(f"w{i % 5}" for i in range(60)))],
        "doc_id long, text string",
    )
    d = docs.unionByName(edge)

    def run():
        return sorted(
            map(tuple, duplicate_spans(d, min_len=8).collect())
        )

    arrow = run()
    monkeypatch.setattr(D2, "_window_hash_arr", J.window_hash_arr_fold)
    jvm = run()
    assert arrow == jvm and len(arrow) > 0


def _embeddings_with_zero_vector(spark):
    """The sf0.001 embeddings (64-dim) plus one all-zero vector, the
    guard edge of every cosine kernel."""
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    return emb.unionByName(
        spark.createDataFrame(
            [(10**6, [0.0] * 64)], "vec_id long, embedding array<double>"
        )
    )


def test_embedding_near_dups_arrow_exact_bit_identical(spark):
    """embedding_near_dups' kernels with exact=True must be
    BIT-identical to the interpreted left-to-right folds: every row's
    SRP band keys, and every pair's verify cosine (zero vector
    included) on the real embeddings corpus."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.functions.arrow_hash import (
        srp_band_keys_udf,
    )
    from kamu_engine_datafusion_spark.functions.columns import l2_norm
    from kamu_engine_datafusion_spark.operators.dedup import (
        _pair_cosine,
        srp_plane_components,
    )
    from tests import jvm_twins as J

    emb = _embeddings_with_zero_vector(spark)
    planes = [srp_plane_components(p, 64) for p in range(8 * 4)]
    keys = emb.select(
        "vec_id",
        srp_band_keys_udf(planes, 8, 4, True)(F.col("embedding")).alias("k"),
        J.srp_band_keys_fold(F.col("embedding"), planes, 8, 4).alias("ref"),
    ).collect()
    assert len(keys) == emb.count()
    assert all(list(r["k"]) == list(r["ref"]) for r in keys)

    legs = emb.filter(
        (F.col("vec_id") < 60) | (F.col("vec_id") == 10**6)
    ).select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__v"),
        l2_norm(F.col("embedding")).alias("__nrm"),
    )
    pairs = (
        legs.alias("a")
        .join(legs.alias("b"), F.col("a.__id") < F.col("b.__id"))
        .select(
            _pair_cosine(True).alias("cos"),
            J.pair_cosine_fold().alias("ref"),
        )
        .collect()
    )
    assert len(pairs) == 60 * 61 // 2
    assert all(r["cos"] == r["ref"] for r in pairs)
    assert sum(r["cos"] == 0.0 for r in pairs) >= 60  # the zero vector


def test_semantic_dedup_arrow_exact_bit_identical(spark):
    """semantic_dedup's nearest-seed assignment must give every row the
    cluster id of the interpreted per-seed folds: bit-identical with
    exact=True, and equal on this corpus with the matmul kernel. A
    zero vector among the seeds never wins."""
    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.functions.columns import l2_norm
    from kamu_engine_datafusion_spark.operators.dedup import (
        _assign_clusters,
    )
    from tests import jvm_twins as J

    emb = _embeddings_with_zero_vector(spark).withColumn(
        "vec_id",
        F.when(F.col("vec_id") == 10**6, F.lit(-1)).otherwise(
            F.col("vec_id")
        ),
    )
    base = emb.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").cast("array<double>").alias("__v"),
        l2_norm(F.col("embedding")).alias("__nrm"),
    )
    seed_rows = base.orderBy("__id").limit(16).select("__id", "__v").collect()
    assert seed_rows[0]["__id"] == -1  # the zero vector is a seed

    ref = {
        r["__id"]: r["__cluster"]
        for r in J.assign_clusters_fold(base, seed_rows).collect()
    }
    assert len(ref) == emb.count() and -1 not in ref.values()
    for exact in (True, False):
        got = {
            r["__id"]: r["__cluster"]
            for r in _assign_clusters(base, seed_rows, exact)
            .select("__id", "__cluster")
            .collect()
        }
        assert got == ref, exact
    assert len(set(ref.values())) > 1
