"""Scale-stress harness: build a ~10× replica of the sf0.1 documents/
embeddings tables (worst-case dedup corpus: every row has 9 exact
copies) and time the dedup/ANN family on it.

Usage:
    python tools/stress.py [--build-only] [--data-dir /tmp/sfbig]

Results feed SCALE.md's stress table. Each op runs twice and reports
the better time (first run pays codegen); the cache is cleared between
runs so persisted intermediates don't leak across measurements.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build(data_dir: str, base_sf_dir: str = "/root/testdata/sf0.1") -> None:
    import duckdb

    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT doc_id + 100000*r AS doc_id, text, lang, source, n_chars
          FROM '{base_sf_dir}/documents.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/documents.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT vec_id + 100000*r AS vec_id, embedding, label
          FROM '{base_sf_dir}/embeddings.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/embeddings.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT event_id + 10000000*r AS event_id, ts,
                 user_id + 100000*r AS user_id, event_type, value, props
          FROM '{base_sf_dir}/events.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/events.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    print(f"built {data_dir} (10x {base_sf_dir})")


def build_tpch(data_dir: str, base_sf_dir: str = "/root/testdata/sf0.1") -> None:
    """10× (≈sf1) TPC-H-ish tables: lineitem/orders replicated with
    shifted keys (joins stay consistent), dims copied as-is — the
    sf1 re-check of the stale §2 bench plans (r5 advice #7)."""
    import duckdb

    os.makedirs(data_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT l_orderkey + 100000000*r AS l_orderkey, l_partkey,
                 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
                 l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
          FROM '{base_sf_dir}/lineitem.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/lineitem.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT o_orderkey + 100000000*r AS o_orderkey, o_custkey,
                 o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
          FROM '{base_sf_dir}/orders.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/orders.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    for dim in ("customer", "supplier", "part", "nation", "region"):
        con.execute(
            f"COPY (SELECT * FROM '{base_sf_dir}/{dim}.parquet') TO "
            f"'{data_dir}/{dim}.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)"
        )
    # the window/analytic B-keys run over events — replicate it too
    con.execute(
        f"""
        COPY (
          SELECT event_id + 10000000*r AS event_id, ts,
                 user_id + 100000*r AS user_id, event_type, value, props
          FROM '{base_sf_dir}/events.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/events.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    # documents too: the r12+ sf1 headline carries xdedup_minhash (the
    # most data-bound pipeline key) beside the TPC-H trio
    con.execute(
        f"""
        COPY (
          SELECT doc_id + 100000*r AS doc_id, text, lang, source, n_chars
          FROM '{base_sf_dir}/documents.parquet', range(0, 10) t(r)
        ) TO '{data_dir}/documents.parquet' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """
    )
    print(f"built 10x tpch tables in {data_dir}")


def run_tpch(data_dir: str) -> None:
    from kamu_engine_datafusion_spark import queries as q
    from kamu_engine_datafusion_spark.session import odf_session

    spark = odf_session("stress-tpch")
    spark.sparkContext.setLogLevel("ERROR")
    registry = q.registry()

    def t(name, fn, reps=3):
        best = None
        for _ in range(reps):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        print(f"{name}: {best:.2f}s", flush=True)

    # headline 4 + (round-7) the §2 join/window/setop families at ~sf1 —
    # the 10x re-check that no B-block plan has a superlinear step
    for key in ("b16_groupby_agg", "b10_tpch_q5alike", "b26_tpch_q3alike",
                "b17_count_distinct",
                "b10_join_inner", "b10_join_shuffle", "b11_join_left",
                "b11_join_full", "b12_semi_anti", "b13_cross_join",
                "b14_theta_join", "b22_distinct", "b23_ranking",
                "b23_topk_per_group", "b24_analytic", "b25_window_frames",
                "b26_orderby", "b27_limit_offset", "b28_union_all",
                "b29_setops", "b30_subqueries", "b19_stats_agg",
                "b20_rollup", "b20_grouping_sets"):
        fn = registry[key]
        t(
            key,
            lambda fn=fn: fn(spark, data_dir)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )

    import bench as B

    times = B._bench_odf_transform(spark, data_dir)
    print(f"odf_transform_filter_map: {min(times):.2f}s", flush=True)

    # sf1 HEADLINE (r11 verdict #6): a once-per-round data-bound line
    # host drift can't swamp — the three most data-bound keys at 10×,
    # totaled, with BOTH calibrations (CPU + I/O) for normalization.
    import json

    head: dict[str, float] = {}
    for key in ("b16_groupby_agg", "b10_tpch_q5alike", "xdedup_minhash"):
        fn = registry[key]
        best = None
        for _ in range(3):
            t0 = time.time()
            fn(spark, data_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        head[key] = round(best, 3)
    cal = round(min(B._bench_calibration(spark)), 3)
    cal_scan = round(min(B._bench_calibration_scan(spark, data_dir)), 3)
    cal_hof = round(min(B._bench_calibration_hof(spark)), 3)
    cal_arrow = round(min(B._bench_calibration_arrow(spark)), 3)
    print(
        json.dumps(
            {
                "metric": "sf1_headline_total",
                "value": round(sum(head.values()), 3),
                "unit": "sec",
                "queries": head,
                "calibration_sec": cal,
                "calibration_scan_sec": cal_scan,
                "calibration_hof_sec": cal_hof,
                "calibration_arrow_sec": cal_arrow,
            }
        ),
        flush=True,
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-dir", default="/tmp/sfbig")
    ap.add_argument("--build-only", action="store_true")
    ap.add_argument(
        "--tpch",
        action="store_true",
        help="run the §2 bench queries on 10x TPC-H tables instead",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="substring filter: run only ops whose name contains this",
    )
    args = ap.parse_args()

    if args.tpch:
        if not os.path.exists(f"{args.data_dir}/lineitem.parquet"):
            build_tpch(args.data_dir)
        run_tpch(args.data_dir)
        return

    if not os.path.exists(f"{args.data_dir}/documents.parquet"):
        build(args.data_dir)
    if args.build_only:
        return

    from pyspark.sql import functions as F

    from kamu_engine_datafusion_spark.operators import dedup as D
    from kamu_engine_datafusion_spark.operators import similarity as S
    from kamu_engine_datafusion_spark.queries._util import load
    from kamu_engine_datafusion_spark.session import odf_session

    spark = odf_session("stress")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load(spark, args.data_dir, "documents")["documents"]
    emb = load(spark, args.data_dir, "embeddings")["embeddings"]
    if not os.path.exists(f"{args.data_dir}/events.parquet"):
        build(args.data_dir)
    events = load(spark, args.data_dir, "events")["events"]

    def t(name, fn, reps=2):
        if args.only and args.only not in name:
            return
        best = None
        for _ in range(reps):
            t0 = time.time()
            n = fn()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
            spark.catalog.clearCache()
        print(f"{name}: {best:.2f}s rows={n}", flush=True)

    t("exact_dedup", lambda: D.exact_dedup(docs).count())
    t("minhash_lsh_dedup", lambda: D.minhash_lsh_dedup(docs, threshold=0.7).count())
    t("simhash", lambda: D.simhash_near_dups(docs, max_hamming=3).count())
    t("paragraph", lambda: D.paragraph_dedup(docs, sep=" the ").count())
    t(
        "embcos_srp",
        lambda: D.embedding_near_dups(emb, threshold=0.4, dim=64).count(),
    )
    t(
        "embcos_srp_exact",
        lambda: D.embedding_near_dups(
            emb, threshold=0.4, dim=64, exact=True
        ).count(),
    )
    t(
        "semantic_dedup",
        lambda: D.semantic_dedup(
            emb, threshold=0.4, num_seeds=64, max_cluster_size=4000
        ).count(),
    )
    t(
        "topk_brute",
        lambda: S.topk_bruteforce(
            emb, emb.filter(F.col("vec_id") == 0), k=10, dim=64
        ).count(),
    )
    t(
        "srp_lsh",
        lambda: S.srp_lsh_topk(
            emb, emb.filter(F.col("vec_id") == 0), k=10, bits=8, dim=64
        ).count(),
    )

    from kamu_engine_datafusion_spark.operators.sketches import (
        cm_heavy_hitter_report,
        hll_distinct_report,
    )
    from kamu_engine_datafusion_spark.queries.pipeline import _bigram_stream

    t(
        "sketch_hll_bigrams",
        lambda: hll_distinct_report(
            _bigram_stream(docs, with_lang=True), ["lang"], "bigram", b=6
        ).count(),
    )
    t(
        "sketch_cm_top20",
        lambda: cm_heavy_hitter_report(
            _bigram_stream(docs), "bigram", top_k=20, depth=4, width=256
        ).count(),
    )
    t(
        "sketch_hll_bigrams_xxhash",
        lambda: hll_distinct_report(
            _bigram_stream(docs, with_lang=True),
            ["lang"],
            "bigram",
            b=6,
            hash_fn="xxhash64",
        ).count(),
    )
    t(
        "sketch_cm_top20_xxhash",
        lambda: cm_heavy_hitter_report(
            _bigram_stream(docs),
            "bigram",
            top_k=20,
            depth=4,
            width=256,
            hash_fn="xxhash64",
        ).count(),
    )
    from kamu_engine_datafusion_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    # fold-only (no exact-count baseline): the production sketch path
    t(
        "sketch_hll_fold_only_poly",
        lambda: hll_estimate(
            hll_registers(
                _bigram_stream(docs, with_lang=True), ["lang"], "bigram", b=6
            ),
            ["lang"],
            b=6,
        ).count(),
    )
    t(
        "sketch_hll_fold_only_xxhash",
        lambda: hll_estimate(
            hll_registers(
                _bigram_stream(docs, with_lang=True),
                ["lang"],
                "bigram",
                b=6,
                hash_fn="xxhash64",
            ),
            ["lang"],
            b=6,
        ).count(),
    )
    t(
        "exact_count_distinct_baseline",
        lambda: _bigram_stream(docs, with_lang=True)
        .groupBy("lang")
        .agg(F.count_distinct("bigram"))
        .count(),
    )
    t(
        "pq_topk",
        lambda: S.pq_topk(
            emb, "vec_id", "embedding", dim=64, m_sub=4, k=8, iters=2
        ).count(),
    )

    from kamu_engine_datafusion_spark.operators import retrieval as R
    from kamu_engine_datafusion_spark.operators import sampling as SA

    t(
        "bm25",
        lambda: R.bm25_scores(docs, ["vector", "merge", "hash", "stream"]).count(),
    )
    t("tfidf_topk", lambda: R.tfidf_topk_terms(docs, k=3).count())
    t(
        "temperature_sample",
        lambda: SA.temperature_sample(docs, "doc_id", "lang").count(),
    )
    t(
        "cap_per_group",
        lambda: SA.cap_per_group(docs, "doc_id", "source", cap=1000).count(),
    )
    t("shuffle_rank", lambda: SA.shuffle_rank(docs, "doc_id").count())

    from kamu_engine_datafusion_spark.operators.clustering import (
        connected_components,
    )

    # 5k components of 10 replicas each (chain edges between replicas)
    rep_edges = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 100000).alias("id_b"),
    ).filter(F.col("doc_id") < 900000)
    t(
        "connected_components_50k",
        lambda: connected_components(rep_edges, strict=True).count(),
    )

    # adversarial: one 50k-node path (diameter 50k) — must converge in
    # log rounds, where label propagation would need 50k joins
    path_edges = spark.range(50_000 - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    t(
        "connected_components_50k_path",
        lambda: connected_components(path_edges, strict=True).count(),
        reps=1,
    )

    # round-5 operator families at 10x (6M events / 50k docs)
    from kamu_engine_datafusion_spark.operators.changelog import changelog_agg
    from kamu_engine_datafusion_spark.operators.funnel import event_transitions
    from kamu_engine_datafusion_spark.operators.partitioning import (
        key_skew_profile,
    )
    from kamu_engine_datafusion_spark.operators.profile import (
        histogram_equi_width,
        population_stability,
        robust_outliers,
        winsorize,
    )
    from kamu_engine_datafusion_spark.operators.rangejoin import merge_intervals
    from kamu_engine_datafusion_spark.operators.snapshot import rolling_time_agg
    from kamu_engine_datafusion_spark.operators.text import (
        bpe_merges,
        char_entropy,
        collocations,
    )

    ledger = events.select(
        F.col("event_id").alias("offset"),
        (F.col("event_id") % 4).cast("int").alias("op"),
        "event_type",
        "value",
    )
    t("changelog_agg_1M", lambda: changelog_agg(
        ledger, ["event_type"], {"vs": "value"}).count())
    t("robust_outliers_1M", lambda: robust_outliers(
        events, "value", ["event_type"]).count())
    t("histogram_1M", lambda: histogram_equi_width(
        events, "value", 20, ["event_type"]).count())
    # noop-write, not count(): count() lets Catalyst prune the computed
    # clip/rolling columns, silently skipping the work being measured
    t("winsorize_1M", lambda: winsorize(
        events, "value", ["event_type"])
        .write.format("noop").mode("overwrite").save())
    t("psi_drift_1M", lambda: population_stability(
        events.filter(F.col("event_type") == "view"),
        events.filter(F.col("event_type") == "click"),
        "value").count())
    t("rolling_time_1M", lambda: rolling_time_agg(
        events, "ts", "value", 3600, ["user_id"])
        .write.format("noop").mode("overwrite").save())
    t("transitions_1M", lambda: event_transitions(events).count())
    iv = events.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("s"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         + (F.round(F.col("value") * 60, 0)).cast("long") * 1000000).alias("e"),
    )
    t("merge_intervals_1M", lambda: merge_intervals(
        iv, "s", "e", ["user_id"]).count())
    t("key_skew_1M", lambda: key_skew_profile(events, ["user_id"]).count())
    t("char_entropy_50k", lambda: char_entropy(docs).count())
    t("collocations_50k", lambda: collocations(
        docs, min_count=50, top_k=100).count())
    t("bpe_merges_50k", lambda: bpe_merges(docs, num_merges=8).count(), reps=1)

    # round-7: mixture interleaving at 50k docs — serial window vs the
    # distributed two-pass twin (noop write: count() would let Catalyst
    # prune the rank computation being measured)
    t(
        "interleave_serial_50k",
        lambda: SA.interleave_sources(
            docs, "doc_id", "lang", {"en": 3.0, "de": 1.0}
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
        or docs.count(),
        reps=1,
    )
    t(
        "interleave_dist_50k",
        lambda: SA.interleave_sources(
            docs, "doc_id", "lang", {"en": 3.0, "de": 1.0}, mode="distributed"
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
        or docs.count(),
    )

    # MinHash signatures on a MANY-SPLIT input — the 100 TB shape
    # (input splits >= cores), where the kernel's parallelism comes
    # from the splits and the derived fan-out adds no shuffle.
    split_dir = os.path.join(args.data_dir, "documents_32split.parquet")
    if not os.path.exists(split_dir):
        docs.repartition(32).write.mode("overwrite").parquet(split_dir)
    docs32 = spark.read.parquet(split_dir)
    t(
        "minhash_sig_32split",
        lambda: D.minhash_signatures(docs32)
        .write.format("noop")
        .mode("overwrite")
        .save()
        or docs32.count(),
    )

    # round-9: the r8 shard-bounded packers + DSIR at 10× (500k docs) —
    # the r7 verdict's "done" criterion for the packing scale fix. The
    # replica corpus is the worst case for packing too: each lang's
    # row count is 10× the bench corpus, so an unsharded window would
    # concentrate 10× the rows into one task.
    from kamu_engine_datafusion_spark.operators import sampling as SA
    from kamu_engine_datafusion_spark.operators import text as X

    costed = docs.withColumn("__cost", X.token_count("text"))
    t(
        "pack_sequences_sharded_500k",
        lambda: SA.pack_sequences(
            costed, "doc_id", "__cost", budget=2048, part_col="lang",
            shards=8, hash_fn="poly",
        )
        .groupBy("lang", "shard", "chunk")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
        or costed.count(),
    )
    t(
        "pack_ffd_sharded_500k",
        lambda: SA.pack_sequences_ffd(
            costed, "doc_id", "__cost", budget=512, part_col="lang",
            shards=8, hash_fn="poly",
        )
        .groupBy("lang", "shard", "chunk")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
        or costed.count(),
    )
    tgt = docs.filter(F.col("source") == "src1")
    raw = docs.filter(F.col("source") != "src1")
    t(
        "dsir_sample_500k",
        lambda: SA.dsir_sample(raw, tgt, n=150, buckets=512, hash_fn="poly")
        .write.format("noop")
        .mode("overwrite")
        .save()
        or raw.count(),
    )

    # r9: curriculum modes on a 20M-row SINGLE stratum — the ntile
    # pathology (one task sorts everything) vs the windowless
    # quantile-boundary mode. Recorded in SCALE.md (23.3s vs 2.6s).
    one = (
        spark.range(20_000_000, numPartitions=32)
        .select(
            F.col("id").alias("doc_id"),
            F.lit("en").alias("lang"),
            (F.pmod(F.xxhash64("id"), F.lit(100000)) / 100.0).alias("diff"),
        )
    )
    for mode in ("quantile", "ntile"):
        t(
            f"curriculum_{mode}_20M_one_stratum",
            lambda mode=mode: SA.curriculum_stages(
                one, "diff", n_stages=4, part_col="lang", mode=mode
            )
            .groupBy("stage")
            .count()
            .write.format("noop")
            .mode("overwrite")
            .save()
            or 20_000_000,
            reps=1 if mode == "ntile" else 2,
        )
    # r9: cap_per_group on the same hot stratum — fast WITHOUT manual
    # sharding because Catalyst's Partial WindowGroupLimit bounds the
    # sort map-side (SCALE.md r9; plan pinned in test_sampling.py)
    t(
        "cap_per_group_20M_one_group",
        lambda: SA.cap_per_group(
            one.withColumn("domain", F.lit("hot")), "doc_id", "domain", 1000
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
        or 20_000_000,
    )

    # r10: mergeable quantile sketch at 20M rows / 3 groups (the
    # percentile_approx-replacement path), plus the classifier and the
    # incremental-CC tick against a corpus-sized star forest
    from kamu_engine_datafusion_spark.operators.sketches import (
        quantile_sketch,
        quantile_sketch_report,
    )

    big = spark.range(20_000_000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.col("id").alias("rid"),
        F.pmod(F.xxhash64("id"), F.lit(100_000)).alias("val"),
    )
    t(
        "qsketch_build_20M",
        lambda: quantile_sketch(
            big, ["grp"], "rid", "val", k=1024, hash_fn="xxhash64"
        )
        .write.format("noop")
        .mode("overwrite")
        .save()
        or 20_000_000,
    )
    t(
        "qsketch_report_20M_incl_exact",
        lambda: quantile_sketch_report(
            big, ["grp"], "rid", "val", k=1024, hash_fn="xxhash64"
        ).count(),
    )
    t(
        "exact_quantiles_20M_baseline",
        lambda: big.groupBy("grp")
        .agg(*[F.expr(f"percentile(val, {q})") for q in (0.5, 0.9, 0.99)])
        .count(),
    )

    from kamu_engine_datafusion_spark.operators.classifier import (
        train_quality_classifier,
    )

    lbl = docs.select(
        "doc_id",
        "text",
        F.array_contains(
            F.split(F.trim(F.lower("text")), r"\s+"), "vector"
        ).cast("int").alias("y"),
    )
    t(
        "classifier_train_50k_12it",
        lambda: len(
            train_quality_classifier(lbl, "doc_id", "text", "y")
        ),
        reps=1,
    )

    from kamu_engine_datafusion_spark.operators.clustering import cc_increment

    # 1M-row component state (100k components x 10 members), 10k-edge
    # increment that merges component pairs — the per-tick shape
    state_1m = spark.range(1_000_000).select(
        F.col("id").alias("node"), (F.col("id") % 100_000).alias("component")
    ).localCheckpoint(eager=True)
    inc = spark.range(10_000).select(
        (F.col("id") * 2).alias("id_a"), (F.col("id") * 2 + 1).alias("id_b")
    )
    t(
        "cc_increment_1M_state_10k_edges",
        lambda: cc_increment(state_1m, inc)
        .write.format("noop")
        .mode("overwrite")
        .save()
        or 1_000_000,
    )

    from kamu_engine_datafusion_spark.operators.text import (
        repetition_report,
    )

    t(
        "repetition_report_50k",
        lambda: repetition_report(docs)
        .write.format("noop")
        .mode("overwrite")
        .save()
        or 50_000,
    )

    from kamu_engine_datafusion_spark.operators.text import (
        source_token_tvd,
    )

    t(
        "source_token_tvd_50k",
        lambda: source_token_tvd(docs, "source", "text", top_v=1000)
        .write.format("noop")
        .mode("overwrite")
        .save()
        or 50_000,
    )

    from kamu_engine_datafusion_spark.operators.clustering import (
        group_centroid_shift,
    )

    t(
        "group_centroid_shift_50k",
        lambda: group_centroid_shift(
            emb.withColumn("grp", F.pmod("vec_id", F.lit(8))),
            "grp", "vec_id", "embedding", dim=64,
        ).count(),
    )

    from kamu_engine_datafusion_spark.operators.decontaminate import (
        bloom_flag_contaminated,
        flag_contaminated,
    )

    bench_slice = docs.filter(F.col("doc_id") % 11 == 0).select("text")
    corp_slice = docs.filter(F.col("doc_id") % 11 != 0)
    t(
        "decontaminate_direct_50k",
        lambda: flag_contaminated(corp_slice, bench_slice).count(),
    )
    t(
        "decontaminate_bloom_50k",
        lambda: bloom_flag_contaminated(corp_slice, bench_slice).count(),
    )

    # -- maintained-state flatness (r11): per-tick fold cost must be
    # bounded by increment + touched buckets, flat in TOTAL state.
    # Each scenario builds state at 1x and 10x and times the SECOND
    # tick only; the two numbers printing ~equal IS the result.
    import shutil

    from kamu_engine_datafusion_spark.streaming.structured import (
        maintained_components,
        maintained_weighted_sample,
        read_maintained_state,
    )

    def _cc_tick_cost(n_nodes: int) -> float:
        base = f"{args.data_dir}/__cc_{n_nodes}"
        shutil.rmtree(base, ignore_errors=True)
        ledger, state, ck = f"{base}/l", f"{base}/s", f"{base}/c"
        os.makedirs(ledger)
        spark.range(n_nodes).selectExpr(
            "id as id_a", "(id - id % 10) as id_b"
        ).write.mode("append").parquet(ledger)
        sch = spark.read.parquet(ledger).schema
        maintained_components(
            ledger, state, ck, schema=sch, spark=spark
        ).awaitTermination()
        spark.range(10_000).selectExpr(
            "id * 20 as id_a", "id * 20 + 10 as id_b"
        ).write.mode("append").parquet(ledger)
        t0 = time.time()
        maintained_components(
            ledger, state, ck, schema=sch, spark=spark
        ).awaitTermination()
        dt = time.time() - t0
        assert read_maintained_state(spark, state).count() >= n_nodes
        return dt

    def _ws_tick_cost(inc_rows: int) -> float:
        base = f"{args.data_dir}/__ws_{inc_rows}"
        shutil.rmtree(base, ignore_errors=True)
        ledger, state, ck = f"{base}/l", f"{base}/s", f"{base}/c"
        os.makedirs(ledger)

        def tick(lo, hi):
            spark.range(lo, hi).selectExpr(
                "concat('g', id % 1000) as grp", "id as doc_id",
                "1 + id % 97 as w",
            ).write.mode("append").parquet(ledger)
            sch = spark.read.parquet(ledger).schema
            t0 = time.time()
            maintained_weighted_sample(
                ledger, state, ck, "w", "grp", n=100, key_col="doc_id",
                hash_fn="xxhash64", schema=sch, spark=spark,
            ).awaitTermination()
            return time.time() - t0

        tick(0, inc_rows)
        return tick(inc_rows, 2 * inc_rows)

    def _ph_tick_cost(n_index: int) -> float:
        """Per-tick cost of a 10k-image tick against a maintained pHash
        index holding n_index fingerprints (r11 verdict #7): the fold
        is APPEND-ONLY (survivor rows never change), so the write is
        O(increment); the probe reads the touched buckets. Flat tick
        cost across 100k → 1M state IS the result."""
        from kamu_engine_datafusion_spark.streaming.structured import (
            maintained_phash_index,
        )

        base = f"{args.data_dir}/__ph_{n_index}"
        shutil.rmtree(base, ignore_errors=True)
        ledger, state, ck = f"{base}/l", f"{base}/s", f"{base}/c"
        os.makedirs(ledger)
        spark.range(n_index).selectExpr(
            "id AS media_id",
            "format_string('%016x', xxhash64(id)) AS phash",
        ).write.mode("append").parquet(ledger)
        sch = spark.read.parquet(ledger).schema
        maintained_phash_index(
            ledger, state, ck, schema=sch, spark=spark
        ).awaitTermination()
        spark.range(n_index, n_index + 10_000).selectExpr(
            "id AS media_id",
            "format_string('%016x', xxhash64(id, 7)) AS phash",
        ).write.mode("append").parquet(ledger)
        t0 = time.time()
        maintained_phash_index(
            ledger, state, ck, schema=sch, spark=spark
        ).awaitTermination()
        dt = time.time() - t0
        n_indexed = read_maintained_state(spark, state).select(
            "media_id"
        ).distinct().count()
        assert n_indexed > n_index  # the tick's novel images landed
        return dt

    # -- r12-staged families (r13 driver-key candidates) --
    from kamu_engine_datafusion_spark.operators.profile import (
        rater_agreement,
    )
    from kamu_engine_datafusion_spark.operators.similarity import (
        hard_negatives,
    )
    from kamu_engine_datafusion_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
    )

    t(
        "kmv_sketch_5m_1000groups",
        lambda: kmv_estimate(
            kmv_sketch(
                spark.range(5_000_000).selectExpr(
                    "concat('g', id % 1000) AS grp",
                    "concat('k', id % 800000) AS key",
                ),
                ["grp"], "key", k=256, hash_fn="xxhash64",
            ),
            ["grp"], k=256,
        ).count(),
    )
    t(
        "hard_negatives_200k_corpus_100anchors",
        lambda: hard_negatives(
            spark.range(200_000).selectExpr(
                "id AS vec_id",
                "transform(sequence(1, 16), j -> "
                "cast(pmod(xxhash64(id, j), 1000) - 500 AS DOUBLE)) "
                "AS embedding",
                "cast(id % 10 AS BIGINT) AS label",
            ),
            spark.range(200_000).selectExpr(
                "id AS vec_id",
                "transform(sequence(1, 16), j -> "
                "cast(pmod(xxhash64(id, j), 1000) - 500 AS DOUBLE)) "
                "AS embedding",
                "cast(id % 10 AS BIGINT) AS label",
            ).filter("vec_id < 100"),
            k=4,
        ).count(),
    )
    t(
        "rater_agreement_5m",
        lambda: rater_agreement(
            spark.range(5_000_000).selectExpr(
                "concat('l', id % 7) AS r1",
                "concat('l', (id + CASE WHEN id % 5 = 0 THEN 1 "
                "ELSE 0 END) % 7) AS r2",
            ),
            "r1", "r2",
        ).count(),
    )

    def _kmv_tick_cost(n_keys: int) -> float:
        from kamu_engine_datafusion_spark.streaming.structured import (
            maintained_kmv,
        )

        base = f"{args.data_dir}/__kmv_{n_keys}"
        shutil.rmtree(base, ignore_errors=True)
        ledger, state, ck = f"{base}/l", f"{base}/s", f"{base}/c"
        os.makedirs(ledger)
        spark.range(n_keys).selectExpr(
            "concat('g', id % 100) AS grp", "concat('k', id) AS key"
        ).write.mode("append").parquet(ledger)
        sch = spark.read.parquet(ledger).schema
        maintained_kmv(
            ledger, state, ck, "grp", "key", k=256, hash_fn="xxhash64",
            schema=sch, spark=spark,
        ).awaitTermination()
        spark.range(n_keys, n_keys + 100_000).selectExpr(
            "concat('g', id % 100) AS grp", "concat('k', id) AS key"
        ).write.mode("append").parquet(ledger)
        t0 = time.time()
        maintained_kmv(
            ledger, state, ck, "grp", "key", k=256, hash_fn="xxhash64",
            schema=sch, spark=spark,
        ).awaitTermination()
        dt = time.time() - t0
        assert (
            read_maintained_state(spark, state).count() <= 256 * 100
        )  # state stays ≤ k rows per group regardless of ledger size
        return dt

    t(
        "verified_heavy_hitters_5m",
        lambda: __import__(
            "kamu_engine_datafusion_spark.operators.sketches",
            fromlist=["verified_heavy_hitters"],
        ).verified_heavy_hitters(
            spark.range(5_000_000).selectExpr(
                # Zipf-ish: a few hot keys + a long tail
                "concat('k', CAST(CASE WHEN id % 10 < 3 THEN id % 7 "
                "ELSE id % 400000 END AS STRING)) AS k"
            ),
            "k", 1, 100, hash_fn="xxhash64",
        ).count(),
    )

    def _want(name: str) -> bool:
        return not args.only or args.only in name

    def _card_tick_cost(n_rows: int) -> float:
        from kamu_engine_datafusion_spark.streaming.structured import (
            maintained_corpus_card,
            read_maintained_corpus_card,
        )

        base = f"{args.data_dir}/__card_{n_rows}"
        shutil.rmtree(base, ignore_errors=True)
        ledger, state, ck = f"{base}/l", f"{base}/s", f"{base}/c"
        os.makedirs(ledger)

        def tick(lo, hi):
            spark.range(lo, hi).selectExpr(
                "id AS doc_id",
                "concat('s', id % 20) AS source",
                "concat('words repeated for doc ', "
                "CAST(id % 500000 AS STRING)) AS text",
            ).write.mode("append").parquet(ledger)
            sch = spark.read.parquet(ledger).schema
            t0 = time.time()
            maintained_corpus_card(
                ledger, state, ck, "source", "text", k=256,
                hash_fn="xxhash64", schema=sch, spark=spark,
            ).awaitTermination()
            return time.time() - t0

        tick(0, n_rows)
        dt = tick(n_rows, n_rows + 100_000)
        assert read_maintained_corpus_card(spark, state).count() == 20
        return dt

    if _want("maintained_card"):
        for nn in (1_000_000, 10_000_000):
            print(
                f"maintained_card_tick_rows{nn}: "
                f"{_card_tick_cost(nn):.2f}s",
                flush=True,
            )

    if _want("maintained_kmv"):
        for nn in (1_000_000, 10_000_000):
            print(
                f"maintained_kmv_tick_keys{nn}: "
                f"{_kmv_tick_cost(nn):.2f}s",
                flush=True,
            )
    if _want("maintained_components"):
        for nn in (100_000, 1_000_000):
            print(
                f"maintained_components_tick_state{nn}: "
                f"{_cc_tick_cost(nn):.2f}s",
                flush=True,
            )
    if _want("maintained_wsample"):
        for inc in (100_000, 1_000_000):
            print(
                f"maintained_wsample_tick_inc{inc}: "
                f"{_ws_tick_cost(inc):.2f}s",
                flush=True,
            )
    if _want("maintained_phash"):
        for nn in (100_000, 1_000_000):
            print(
                f"maintained_phash_tick_state{nn}: "
                f"{_ph_tick_cost(nn):.2f}s",
                flush=True,
            )

    def _mmh_tick_cost(n_index: int) -> float:
        """Per-tick cost of a 10k-doc tick against a maintained
        MinHash index holding n_index docs — the text twin of
        _ph_tick_cost (append-only fold, probe = touched band
        buckets). Synthetic docs: unique word streams, no near-dups,
        so the tick cost is pure probe + signature work."""
        from kamu_engine_datafusion_spark.streaming.structured import (
            maintained_minhash_index,
        )

        base = f"{args.data_dir}/__mmh_{n_index}"
        shutil.rmtree(base, ignore_errors=True)
        ledger, state, ck = f"{base}/l", f"{base}/s", f"{base}/c"
        os.makedirs(ledger)

        def doc_expr():
            return (
                "concat_ws(' ', transform(sequence(1, 20), j -> "
                "concat('w', CAST(xxhash64(id, j) % 1000000 AS STRING)"
                "))) AS text"
            )

        spark.range(n_index).selectExpr(
            "id AS doc_id", doc_expr()
        ).write.mode("append").parquet(ledger)
        sch = spark.read.parquet(ledger).schema
        maintained_minhash_index(
            ledger, state, ck, schema=sch, spark=spark
        ).awaitTermination()
        spark.range(n_index, n_index + 10_000).selectExpr(
            "id AS doc_id", doc_expr()
        ).write.mode("append").parquet(ledger)
        t0 = time.time()
        maintained_minhash_index(
            ledger, state, ck, schema=sch, spark=spark
        ).awaitTermination()
        dt = time.time() - t0
        n_indexed = read_maintained_state(spark, state).select(
            "doc_id"
        ).distinct().count()
        assert n_indexed > n_index
        return dt

    if _want("maintained_mmh"):
        for nn in (100_000, 1_000_000):
            print(
                f"maintained_mmh_tick_state{nn}: "
                f"{_mmh_tick_cost(nn):.2f}s",
                flush=True,
            )

    def _batch_index_layout(n_index: int) -> None:
        """BATCH index-layout A/B (the r13 split port): persist a
        combined vs split MinHash index of n_index docs to parquet,
        probe each with the same 10k-doc increment
        (dedup_increment_against_index, xxhash64 production profile),
        and report on-disk index bytes + warm probe seconds (min of 2)
        per layout. Same synthetic unique-word docs as the maintained
        stress, so the probe cost is pure candidate/verify work."""
        from kamu_engine_datafusion_spark.operators.dedup import (
            dedup_increment_against_index,
            minhash_index,
            minhash_index_split,
        )

        base = f"{args.data_dir}/__bidx_{n_index}"
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)

        def doc_expr():
            return (
                "concat_ws(' ', transform(sequence(1, 20), j -> "
                "concat('w', CAST(xxhash64(id, j) % 1000000 AS STRING)"
                "))) AS text"
            )

        corpus = spark.range(n_index).selectExpr("id AS doc_id", doc_expr())
        inc = spark.range(n_index, n_index + 10_000).selectExpr(
            "id AS doc_id", doc_expr()
        )
        minhash_index(corpus).write.parquet(f"{base}/combined")
        bands, sigs = minhash_index_split(corpus)
        bands.write.parquet(f"{base}/bands")
        sigs.write.parquet(f"{base}/sigs")

        def du(path: str) -> int:
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )

        def probe(index) -> float:
            best = float("inf")
            for _ in range(2):
                t0 = time.time()
                surv, _ = dedup_increment_against_index(inc, index)
                surv.count()
                best = min(best, time.time() - t0)
            return best

        t_comb = probe(spark.read.parquet(f"{base}/combined"))
        t_split = probe(
            (
                spark.read.parquet(f"{base}/bands"),
                spark.read.parquet(f"{base}/sigs"),
            )
        )
        print(
            f"batch_index_layout_{n_index}: combined "
            f"{du(f'{base}/combined') / 1e6:.1f}MB {t_comb:.2f}s | "
            f"split {(du(f'{base}/bands') + du(f'{base}/sigs')) / 1e6:.1f}MB "
            f"(bands {du(f'{base}/bands') / 1e6:.1f} + "
            f"sigs {du(f'{base}/sigs') / 1e6:.1f}) {t_split:.2f}s",
            flush=True,
        )
        shutil.rmtree(base, ignore_errors=True)

    if _want("batch_index_layout"):
        for nn in (100_000, 1_000_000):
            _batch_index_layout(nn)

    # ---- r14 staged-family stresses (reproduce the COVERAGE rows) ----

    def _sessions_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.sessions import (
            session_fold_increment,
            sessions_read,
        )

        led = "/tmp/stress_sess_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        closed_all = None
        times = []
        for i in range(12):
            ev = spark.range(500_000).select(
                (F.xxhash64("id", F.lit(i)) % 100_000).alias("user_id"),
                F.timestamp_millis(
                    (
                        F.lit(i * 3600_000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 77)),
                            F.lit(3600_000),
                        )
                        + F.lit(1704067200000)
                    ).cast("long")
                ).alias("ts"),
                (F.col("id") + i * 500_000).alias("event_id"),
            ).filter(F.pmod(F.col("user_id") + i, F.lit(4)) != 0)
            t0 = time.time()
            closed, state = session_fold_increment(state, ev, 1800)
            state = state.localCheckpoint(eager=True)
            closed = closed.localCheckpoint(eager=True)
            closed_all = (
                closed
                if closed_all is None
                else closed_all.unionByName(closed)
            )
            times.append(round(time.time() - t0, 2))
            ev.write.mode("append").parquet(led)
        live = sessions_read(closed_all, state)
        from pyspark.sql import Window

        evall = spark.read.parquet(led)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t0 = time.time()
        flg = evall.select(
            "user_id", "ts", "event_id",
            F.when(
                F.col("ts").cast("long")
                - F.lag(F.col("ts").cast("long")).over(w) > 1800,
                F.lit(1),
            ).otherwise(F.lit(0)).alias("ns"),
        )
        batch = (
            flg.withColumn(
                "session_id",
                F.sum("ns").over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                ).cast("long"),
            )
            .groupBy("user_id", "session_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                (
                    (
                        F.unix_millis(F.max("ts"))
                        - F.unix_millis(F.min("ts"))
                    )
                    / F.lit(1000)
                ).cast("long").alias("duration_sec"),
            )
        )
        nb = batch.count()
        tb = time.time() - t0
        diff = (
            live.exceptAll(batch).count() + batch.exceptAll(live).count()
        )
        print(
            f"maintained_sessions: per-tick {times} | batch re-window "
            f"{tb:.2f}s ({nb} sessions) | diff={diff}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_sessions"):
        _sessions_stress()

    def _retention_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.funnel import (
            activity_increment,
            activity_merge,
            retention_cohorts,
            retention_from_activity,
        )

        led = "/tmp/stress_ret_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        times = []
        for i in range(10):
            ev = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 200_000).alias("user_id"),
                F.timestamp_millis(
                    (
                        F.lit(1704067200000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 5)),
                            F.lit(26 * 7 * 86400000),
                        )
                    ).cast("long")
                ).alias("ts"),
                (F.col("id") + i * 1_000_000).alias("event_id"),
            )
            t0 = time.time()
            inc = activity_increment(ev)
            state = inc if state is None else activity_merge(state, inc)
            state = state.localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            ev.write.mode("append").parquet(led)
        t0 = time.time()
        live = retention_from_activity(state)
        live.count()
        tr = time.time() - t0
        t0 = time.time()
        batch = retention_cohorts(spark.read.parquet(led))
        batch.count()
        tb = time.time() - t0
        diff = (
            live.exceptAll(batch).count() + batch.exceptAll(live).count()
        )
        print(
            f"maintained_retention: per-tick {times} | read {tr:.2f}s "
            f"vs batch re-dedup {tb:.2f}s | diff={diff}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_retention"):
        _retention_stress()

    def _funnel_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.funnel import (
            funnel_counts,
            funnel_fold_increment,
            funnel_from_state,
        )

        led = "/tmp/stress_fun_ledger"
        shutil.rmtree(led, ignore_errors=True)
        steps = ["view", "click", "purchase"]
        types = F.array(
            F.lit("view"), F.lit("click"), F.lit("purchase"),
            F.lit("error"), F.lit("signup"),
        )
        state = None
        times = []
        for i in range(10):
            ev = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 300_000).alias("user_id"),
                F.timestamp_millis(
                    (
                        F.lit(1704067200000)
                        + F.lit(i * 86400000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 3)),
                            F.lit(86400000),
                        )
                    ).cast("long")
                ).alias("ts"),
                F.element_at(
                    types,
                    (
                        F.pmod(F.xxhash64("id", F.lit(i + 9)), F.lit(5))
                        + 1
                    ).cast("int"),
                ).alias("event_type"),
                (F.col("id") + i * 1_000_000).alias("event_id"),
            )
            t0 = time.time()
            state = funnel_fold_increment(state, ev, steps)
            state = state.localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            ev.write.mode("append").parquet(led)
        t0 = time.time()
        live = sorted(
            tuple(r) for r in funnel_from_state(state, steps).collect()
        )
        tr = time.time() - t0
        t0 = time.time()
        batch = sorted(
            tuple(r)
            for r in funnel_counts(
                spark.read.parquet(led), steps
            ).collect()
        )
        tb = time.time() - t0
        print(
            f"maintained_funnel: per-tick {times} | read {tr:.2f}s vs "
            f"batch re-walk {tb:.2f}s | match={live == batch}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_funnel"):
        _funnel_stress()

    def _postings_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.retrieval import (
            bm25_scores,
            bm25_topk_from_postings,
            postings_increment,
            term_stats_increment,
        )
        from kamu_engine_datafusion_spark.streaming.structured import (
            _bucket_of,
        )

        corp = "/tmp/stress_bm25corpus"
        idx = "/tmp/stress_postings"
        gen = spark.range(2_000_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(
                    F.lit("a"), (F.xxhash64("id") % 10000).cast("string")
                ),
                F.concat(
                    F.lit("b"),
                    (F.xxhash64("id", F.lit(1)) % 1000).cast("string"),
                ),
                F.concat(
                    F.lit("c"),
                    (F.xxhash64("id", F.lit(2)) % 100).cast("string"),
                ),
                F.lit(
                    "vector merge common filler words and more padding "
                    "text here"
                ),
            ).alias("text"),
        )
        gen.write.mode("overwrite").parquet(corp)
        docs2 = spark.read.parquet(corp)
        (
            postings_increment(docs2)
            .withColumn("__bucket", _bucket_of(["term"], 16))
            .repartition(16, "__bucket")
            .sortWithinPartitions("__bucket", "term")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(idx)
        )
        st = term_stats_increment(docs2)
        st_rows = spark.createDataFrame(st.collect(), st.schema)
        sel = ["a9991", "b997", "c97"]

        def q_index():
            bks = sorted(
                {
                    int(r[0])
                    for r in spark.createDataFrame(
                        [(x,) for x in sel], "term string"
                    )
                    .select(_bucket_of(["term"], 16))
                    .collect()
                }
            )
            pr = (
                spark.read.parquet(idx)
                .filter(F.col("__bucket").isin(bks))
                .drop("__bucket")
            )
            return bm25_topk_from_postings(pr, st_rows, sel, k=10).collect()

        def q_scan():
            return (
                bm25_scores(docs2, sel)
                .orderBy(F.col("score").desc(), "doc_id")
                .limit(10)
                .collect()
            )

        def best(f, n=3):
            b = 1e9
            for _ in range(n):
                t0 = time.time()
                f()
                b = min(b, time.time() - t0)
            return b

        print(
            f"maintained_postings: term-sorted index query "
            f"{best(q_index):.2f}s vs disk-corpus rescan "
            f"{best(q_scan):.2f}s (selective terms)",
            flush=True,
        )
        shutil.rmtree(corp, ignore_errors=True)
        shutil.rmtree(idx, ignore_errors=True)

    if _want("maintained_postings"):
        _postings_stress()

    def _term_stats_sorted_stress() -> None:
        """r15 A/B for `maintained_term_stats(sort_cols=['term'])`: the
        BM25 stats lookup filters LITERAL terms (IN-list + the scalars
        key), so term-sorted bucket files let parquet row-group min/max
        stats prune the vocab-sized state below the bucket level. The
        8 MiB block size emulates the at-scale shape (a 100 TB
        deployment's per-bucket stats files span many row groups; the
        default 128 MiB block would put this whole stress state in one
        group and hide the mechanism being measured)."""
        import shutil

        from kamu_engine_datafusion_spark.operators.retrieval import (
            CORPUS_STATS_KEY,
            term_stats_increment,
        )
        from kamu_engine_datafusion_spark.streaming.structured import (
            _bucket_of,
        )

        corp = "/tmp/stress_tscorpus"
        gen = spark.range(4_000_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(
                    F.lit("t"),
                    (F.xxhash64("id") % 4_000_000).cast("string"),
                ),
                F.concat(
                    F.lit("u"),
                    (F.xxhash64("id", F.lit(1)) % 4_000_000).cast("string"),
                ),
                F.concat(
                    F.lit("v"),
                    (F.xxhash64("id", F.lit(2)) % 4_000_000).cast("string"),
                ),
                F.lit("vector merge"),
            ).alias("text"),
        )
        gen.write.mode("overwrite").parquet(corp)
        stats = term_stats_increment(spark.read.parquet(corp)).persist()
        n_terms = stats.count()
        roots = {}
        for name, sort in (("unsorted", False), ("sorted", True)):
            root = f"/tmp/stress_tsstate_{name}"
            staged = stats.withColumn(
                "__bucket", _bucket_of(["term"], 8)
            ).repartition(8, "__bucket")
            if sort:
                staged = staged.sortWithinPartitions("__bucket", "term")
            (
                staged.write.partitionBy("__bucket")
                .option("parquet.block.size", 8 * 1024 * 1024)
                .mode("overwrite")
                .parquet(root)
            )
            roots[name] = root
        stats.unpersist()
        sel = ["t3999991", "u39997", "v1999", "merge", CORPUS_STATS_KEY]

        def lookup(root):
            return (
                spark.read.parquet(root)
                .filter(F.col("term").isin(sel))
                .collect()
            )

        def best(f, n=4):
            b = 1e9
            for _ in range(n):
                t0 = time.time()
                f()
                b = min(b, time.time() - t0)
            return b

        tu = best(lambda: lookup(roots["unsorted"]))
        ts_ = best(lambda: lookup(roots["sorted"]))
        print(
            f"maintained_term_stats: literal-terms lookup over "
            f"{n_terms} stats rows — sorted {ts_:.2f}s vs unsorted "
            f"{tu:.2f}s (8 MiB row groups)",
            flush=True,
        )
        shutil.rmtree(corp, ignore_errors=True)
        for root in roots.values():
            shutil.rmtree(root, ignore_errors=True)

    if _want("maintained_term_stats"):
        _term_stats_sorted_stress()

    def _intervals_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.rangejoin import (
            intervals_increment,
            merge_intervals,
        )

        led = "/tmp/stress_iv_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        times = []
        for i in range(10):
            iv = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 100_000).alias("grp"),
                F.pmod(
                    F.xxhash64("id", F.lit(i + 3)), F.lit(10_000_000)
                ).alias("start_us"),
            ).select(
                "grp",
                "start_us",
                (
                    F.col("start_us")
                    + 1
                    + F.pmod(F.xxhash64("start_us"), F.lit(200_000))
                ).alias("end_us"),
            )
            t0 = time.time()
            state = intervals_increment(
                state, iv, "start_us", "end_us", ["grp"]
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            iv.write.mode("append").parquet(led)

        def fp(df):
            return tuple(
                df.agg(
                    F.count(F.lit(1)),
                    F.sum("start_us"),
                    F.sum("end_us"),
                    F.sum("n_merged"),
                    F.sum(F.col("grp") * F.col("island")),
                ).collect()[0]
            )

        t0 = time.time()
        live = fp(state)
        tr = time.time() - t0
        t0 = time.time()
        batch = fp(
            merge_intervals(
                spark.read.parquet(led), "start_us", "end_us", ["grp"]
            )
        )
        tb = time.time() - t0
        print(
            f"maintained_intervals: per-tick {times} | islands "
            f"{live[0]} | read {tr:.2f}s vs batch re-merge of "
            f"{10_000_000} spans {tb:.2f}s | match={live == batch}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_intervals"):
        _intervals_stress()

    def _asof_state_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.asof import (
            asof_join,
            asof_probe_from_state,
            asof_state_increment,
        )

        led = "/tmp/stress_as_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        times = []
        for i in range(10):
            dim = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 200_000).alias("key"),
                F.timestamp_millis(
                    (
                        F.lit(1704067200000)
                        + F.lit(i * 86400000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 3)),
                            F.lit(86400000),
                        )
                    ).cast("long")
                ).alias("ts"),
                (F.pmod(F.xxhash64("id", F.lit(i + 7)), F.lit(100000))
                 / 100.0).alias("price"),
                (F.col("id") + i * 1_000_000).alias("rid"),
            )
            t0 = time.time()
            state = asof_state_increment(
                state, dim, ["key"], "ts", ["price"], "rid"
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            dim.write.mode("append").parquet(led)
        facts = spark.range(1_000_000).select(
            (F.xxhash64("id", F.lit(99)) % 250_000).alias("key"),
            F.timestamp_millis(
                (
                    F.lit(1704067200000)
                    + F.lit(11 * 86400000)
                    + F.pmod(F.xxhash64("id", F.lit(98)), F.lit(86400000))
                ).cast("long")
            ).alias("ts"),
        ).localCheckpoint(eager=True)

        def fp(df):
            return tuple(
                df.agg(
                    F.count(F.lit(1)),
                    F.sum("key"),
                    F.round(F.sum("right_price"), 2),
                ).collect()[0]
            )

        t0 = time.time()
        live = fp(
            asof_probe_from_state(
                facts, state, ["key"], "ts", ["price"]
            )
        )
        tr = time.time() - t0
        t0 = time.time()
        batch = fp(
            asof_join(
                facts,
                spark.read.parquet(led).select("key", "ts", "price"),
                ["key"],
                "ts",
                ["price"],
            )
        )
        tb = time.time() - t0
        print(
            f"maintained_asof_state: per-tick {times} | probe 1M facts "
            f"from state {tr:.2f}s vs batch asof over 10M-row history "
            f"{tb:.2f}s | match={live == batch}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_asof_state"):
        _asof_state_stress()

    def _mmr_store_stress() -> None:
        import math
        import shutil

        from kamu_engine_datafusion_spark.operators.clustering import (
            semdedup_state_rows,
        )
        from kamu_engine_datafusion_spark.streaming.structured import (
            _bucket_of,
            read_maintained_mmr,
        )

        store = "/tmp/stress_mmr_store"
        dim = 32
        big = spark.range(1_000_000).select(
            F.col("id").alias("vec_id"),
            F.array(
                *[
                    (
                        F.pmod(
                            F.xxhash64("id", F.lit(j)), F.lit(2_000)
                        )
                        - 1_000
                    ).cast("double")
                    / 1_000.0
                    for j in range(dim)
                ]
            ).alias("embedding"),
        )
        cents = [
            [
                int(
                    math.floor(
                        ((((i * 2654435761 + j * 40503) % 2000) - 1000)
                         / 1000.0) * 10_000 + 0.5
                    )
                )
                for j in range(dim)
            ]
            for i in range(8)
        ]
        (
            semdedup_state_rows(big, cents, "vec_id", "embedding")
            .withColumn("__bucket", _bucket_of(["cluster"], 8))
            .repartition(8, "__bucket")
            .write.partitionBy("__bucket")
            .mode("overwrite")
            .parquet(store)
        )
        qvec = [(((j * 7919) % 2000) - 1000) / 1000.0 for j in range(dim)]

        def run(nprobe):
            t0 = time.time()
            rows = read_maintained_mmr(
                spark, store, cents, qvec, k=10, pool=100,
                nprobe=nprobe,
            ).collect()
            return time.time() - t0, rows

        t_full, full_rows = run(8)
        t_pr, pr_rows = run(2)
        print(
            f"mmr_from_semdedup_store: 1M x {dim}-dim store — nprobe=2 "
            f"{t_pr:.2f}s vs full 8-list {t_full:.2f}s; top-1 "
            f"agree={full_rows[0]['vec_id'] == pr_rows[0]['vec_id']}",
            flush=True,
        )
        shutil.rmtree(store, ignore_errors=True)

    if _want("mmr_from_semdedup_store"):
        _mmr_store_stress()

    def _pair_counts_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.text import (
            collocations,
            collocations_from_counts,
            pair_counts,
            term_counts,
        )

        led = "/tmp/stress_pc_ledger"
        shutil.rmtree(led, ignore_errors=True)
        pstate, tstate = None, None
        times = []
        for i in range(4):
            d = spark.range(500_000).select(
                F.concat_ws(
                    " ",
                    *[
                        F.concat(
                            F.lit("w"),
                            (
                                F.pmod(
                                    F.xxhash64("id", F.lit(i * 20 + j)),
                                    F.lit(20_000),
                                )
                            ).cast("string"),
                        )
                        for j in range(12)
                    ],
                ).alias("text")
            )
            t0 = time.time()
            pinc = pair_counts(d)
            pstate = (
                pinc
                if pstate is None
                else pinc.unionByName(pstate)
                .groupBy("w1", "w2")
                .agg(F.sum("c").cast("long").alias("c"))
            ).localCheckpoint(eager=True)
            tinc = term_counts(d)
            tstate = (
                tinc
                if tstate is None
                else tinc.unionByName(tstate)
                .groupBy("token")
                .agg(F.sum("freq").cast("long").alias("freq"))
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            d.write.mode("append").parquet(led)
        t0 = time.time()
        live = [
            tuple(r)
            for r in collocations_from_counts(
                pstate, tstate, min_count=5, top_k=50
            ).collect()
        ]
        tr = time.time() - t0
        t0 = time.time()
        batch = [
            tuple(r)
            for r in collocations(
                spark.read.parquet(led), min_count=5, top_k=50
            ).collect()
        ]
        tb = time.time() - t0
        print(
            f"maintained_pair_counts: per-tick {times} | pairs "
            f"{pstate.count()} | PMI top-50 read {tr:.2f}s vs batch "
            f"re-pair of 2M docs {tb:.2f}s | match={live == batch}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_pair_counts"):
        _pair_counts_stress()

    def _ngram_set_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.decontaminate import (
            ngram_novelty,
            ngram_set_increment,
            novelty_against_ngrams,
        )

        led = "/tmp/stress_ng_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        times = []
        for i in range(4):
            ref = spark.range(125_000).select(
                (F.col("id") + i * 125_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(
                            F.lit("r"),
                            (
                                F.pmod(
                                    F.xxhash64("id", F.lit(i * 16 + j)),
                                    F.lit(50_000),
                                )
                            ).cast("string"),
                        )
                        for j in range(10)
                    ],
                ).alias("text"),
            )
            t0 = time.time()
            inc = ngram_set_increment(state, ref)
            state = (
                inc if state is None else state.unionByName(inc)
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            ref.write.mode("append").parquet(led)
        corpus = spark.range(2_000_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("r"),
                        (
                            F.pmod(
                                F.xxhash64("id", F.lit(100 + j)),
                                F.lit(80_000),
                            )
                        ).cast("string"),
                    )
                    for j in range(10)
                ],
            ).alias("text"),
        ).localCheckpoint(eager=True)

        def fp(df):
            return tuple(
                df.agg(
                    F.count(F.lit(1)),
                    F.sum("n_ngrams"),
                    F.sum("n_novel"),
                    F.round(F.sum("novelty"), 2),
                ).collect()[0]
            )

        t0 = time.time()
        live = fp(novelty_against_ngrams(corpus, state))
        tr = time.time() - t0
        t0 = time.time()
        batch = fp(ngram_novelty(corpus, spark.read.parquet(led)))
        tb = time.time() - t0
        print(
            f"maintained_ngram_set: per-tick {times} | ref set "
            f"{state.count()} bigrams | 2M-doc novelty from state "
            f"{tr:.2f}s vs batch re-shingle {tb:.2f}s | "
            f"match={live == batch}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_ngram_set"):
        _ngram_set_stress()

    def _moments_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.profile import (
            moment_counts,
            zscore_from_moments,
        )

        led = "/tmp/stress_mo_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        times = []
        for i in range(10):
            d = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 100_000).alias("grp"),
                (
                    F.pmod(
                        F.xxhash64("id", F.lit(i + 5)), F.lit(100_000)
                    )
                    / 1_000.0
                ).alias("x"),
            )
            t0 = time.time()
            inc = moment_counts(d, "x", ["grp"])
            state = (
                inc
                if state is None
                else inc.unionByName(state)
                .groupBy("grp")
                .agg(
                    F.sum("n").cast("long").alias("n"),
                    F.sum("s1").cast("long").alias("s1"),
                    F.sum("s2").cast("long").alias("s2"),
                )
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            d.write.mode("append").parquet(led)
        probe = spark.range(1_000_000).select(
            (F.xxhash64("id", F.lit(99)) % 100_000).alias("grp"),
            (
                F.pmod(F.xxhash64("id", F.lit(98)), F.lit(100_000))
                / 1_000.0
            ).alias("x"),
        ).localCheckpoint(eager=True)
        t0 = time.time()
        n_out = (
            zscore_from_moments(
                probe, state, "x", ["grp"], outlier_z=3.0
            )
            .filter(F.col("is_outlier"))
            .count()
        )
        tr = time.time() - t0
        t0 = time.time()
        nb = moment_counts(
            spark.read.parquet(led), "x", ["grp"]
        ).count()
        tb = time.time() - t0
        print(
            f"maintained_moments: per-tick {times} | z-score+gate 1M "
            f"probe rows from {nb}-group state {tr:.2f}s (outliers "
            f"{n_out}) vs batch moments recount of 10M rows {tb:.2f}s",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_moments"):
        _moments_stress()

    def _cadence_stress() -> None:
        """Long-horizon integration of the compaction CADENCE with a
        real maintained fold: 50 postings ticks through the ACTUAL
        streaming wrapper with compact_state_if_needed(trigger=8)
        called between ticks — per-bucket file counts stay bounded at
        the trigger, the serving read stays flat, and the final state
        equals the batch postings of the whole ledger."""
        import shutil

        from kamu_engine_datafusion_spark.operators.retrieval import (
            postings_increment,
        )
        from kamu_engine_datafusion_spark.streaming.structured import (
            compact_state_if_needed,
            maintained_postings,
            read_maintained_state,
        )

        led = "/tmp/stress_cad_ledger"
        st = "/tmp/stress_cad_state"
        ck = "/tmp/stress_cad_ck"
        for d in (led, st, ck):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(led)
        n_compactions = 0
        max_files_seen = 0

        def bucket_files():
            worst = 0
            for d in os.listdir(st):
                if not d.startswith("__bucket="):
                    continue
                p = os.path.join(st, d)
                worst = max(
                    worst,
                    sum(
                        1
                        for f in os.listdir(p)
                        if f.endswith(".parquet")
                    ),
                )
            return worst

        for i in range(50):
            tick = spark.range(20_000).select(
                (F.col("id") + i * 20_000).alias("doc_id"),
                F.concat_ws(
                    " ",
                    *[
                        F.concat(
                            F.lit("t"),
                            (
                                F.pmod(
                                    F.xxhash64("id", F.lit(i * 8 + j)),
                                    F.lit(30_000),
                                )
                            ).cast("string"),
                        )
                        for j in range(8)
                    ],
                ).alias("text"),
            )
            tick.coalesce(1).write.mode("append").parquet(led)
            maintained_postings(
                led, st, ck,
                schema=spark.read.parquet(led).schema, spark=spark,
            ).awaitTermination()
            max_files_seen = max(max_files_seen, bucket_files())
            if compact_state_if_needed(
                spark, st, trigger_files_per_bucket=8,
                sort_cols=["term"],
            ):
                n_compactions += 1
        t0 = time.time()
        n_state = read_maintained_state(spark, st).count()
        tr = time.time() - t0
        n_batch = postings_increment(spark.read.parquet(led)).count()
        print(
            f"compaction_cadence: 50 ticks, trigger=8 -> "
            f"{n_compactions} compactions, max files/bucket ever "
            f"{max_files_seen}, final {bucket_files()} | state read "
            f"{tr:.2f}s | rows {n_state} == batch {n_batch}: "
            f"{n_state == n_batch}",
            flush=True,
        )
        for d in (led, st, ck):
            shutil.rmtree(d, ignore_errors=True)

    if _want("compaction_cadence"):
        _cadence_stress()

    def _temperature_mix_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.sampling import (
            sample_with_cuts,
            temperature_cuts_from_counts,
            temperature_sample,
        )

        led = "/tmp/stress_tm_ledger"
        shutil.rmtree(led, ignore_errors=True)
        langs = F.array(
            *[F.lit(x) for x in
              ("en", "en", "en", "en", "en", "en", "de", "de", "fr",
               "yo")]
        )
        state = None
        times = []
        for i in range(10):
            d = spark.range(1_000_000).select(
                (F.col("id") + i * 1_000_000).alias("doc_id"),
                F.element_at(
                    langs,
                    (
                        F.pmod(F.xxhash64("id", F.lit(i)), F.lit(10)) + 1
                    ).cast("int"),
                ).alias("lang"),
            )
            t0 = time.time()
            inc = d.groupBy("lang").agg(
                F.count(F.lit(1)).cast("long").alias("n")
            )
            state = (
                inc
                if state is None
                else inc.unionByName(state)
                .groupBy("lang")
                .agg(F.sum("n").cast("long").alias("n"))
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            d.write.mode("append").parquet(led)
        full = spark.read.parquet(led)
        t0 = time.time()
        cuts = temperature_cuts_from_counts(
            state, "lang", alpha=0.5, target_fraction=0.3
        )
        n_live = sample_with_cuts(full, cuts, "doc_id", "lang").count()
        tr = time.time() - t0
        t0 = time.time()
        n_batch = temperature_sample(
            full, "doc_id", "lang", alpha=0.5, target_fraction=0.3
        ).count()
        tb = time.time() - t0
        print(
            f"maintained_group_counts: per-tick {times} | mix sample "
            f"of 10M docs from 4-row cut state {tr:.2f}s vs batch "
            f"recount+sample {tb:.2f}s | kept {n_live} == {n_batch}: "
            f"{n_live == n_batch}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_group_counts"):
        _temperature_mix_stress()

    def _cap_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.sampling import (
            cap_per_group,
            cap_state_increment,
        )

        led = "/tmp/stress_cap_ledger"
        shutil.rmtree(led, ignore_errors=True)
        state = None
        times = []
        for i in range(10):
            d = spark.range(1_000_000).select(
                (F.col("id") + i * 1_000_000).alias("doc_id"),
                (F.xxhash64("id", F.lit(i)) % 100_000).alias("domain"),
            )
            t0 = time.time()
            state = cap_state_increment(
                state, d, "doc_id", "domain", 10
            ).localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            d.write.mode("append").parquet(led)
        t0 = time.time()
        live = state.agg(
            F.count(F.lit(1)), F.sum("doc_id")
        ).collect()[0]
        tr = time.time() - t0
        t0 = time.time()
        batch = (
            cap_per_group(
                spark.read.parquet(led), "doc_id", "domain", 10
            )
            .agg(F.count(F.lit(1)), F.sum("doc_id"))
            .collect()[0]
        )
        tb = time.time() - t0
        print(
            f"maintained_cap: per-tick {times} | survivors "
            f"{live[0]} | state read {tr:.2f}s vs batch re-cap of 10M "
            f"rows {tb:.2f}s | match={tuple(live) == tuple(batch)}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_cap"):
        _cap_stress()

    def _compact_state_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.streaming.structured import (
            _fold_buckets_append,
            compact_state,
            read_maintained_state,
        )

        st = "/tmp/stress_cs_state"
        shutil.rmtree(st, ignore_errors=True)
        for b in range(400):
            inc = spark.range(b * 2000, (b + 1) * 2000).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 97).alias("k"),
                (F.xxhash64("id") % 100000).alias("payload"),
            )
            _fold_buckets_append(
                inc, b, st, ["doc_id"], 8, lambda s, d: d,
                read_state=False,
            )

        def read_time():
            b = 1e9
            for _ in range(3):
                t0 = time.time()
                read_maintained_state(spark, st).groupBy("k").agg(
                    F.count("*"), F.sum("payload")
                ).collect()
                b = min(b, time.time() - t0)
            return b

        pre = read_time()
        t0 = time.time()
        stats = compact_state(spark, st)
        tc = time.time() - t0
        post = read_time()
        print(
            f"compact_state: {stats['files_before']} files -> "
            f"{stats['files_after']} in {tc:.1f}s | state read "
            f"{pre:.2f}s -> {post:.2f}s",
            flush=True,
        )
        shutil.rmtree(st, ignore_errors=True)

    if _want("compact_state"):
        _compact_state_stress()

    def _transitions_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.funnel import (
            event_transitions,
            transitions_from_counts,
            transitions_increment,
        )

        led = "/tmp/stress_tr_ledger"
        shutil.rmtree(led, ignore_errors=True)
        types = F.array(
            F.lit("view"), F.lit("click"), F.lit("purchase"),
            F.lit("error"), F.lit("signup"),
        )
        last = None
        counts = None
        times = []
        for i in range(10):
            ev = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 300_000).alias("user_id"),
                F.timestamp_millis(
                    (
                        F.lit(1704067200000)
                        + F.lit(i * 86400000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 3)),
                            F.lit(86400000),
                        )
                    ).cast("long")
                ).alias("ts"),
                F.element_at(
                    types,
                    (
                        F.pmod(F.xxhash64("id", F.lit(i + 9)), F.lit(5))
                        + 1
                    ).cast("int"),
                ).alias("event_type"),
                (F.col("id") + i * 1_000_000).alias("event_id"),
            )
            t0 = time.time()
            inc, last = transitions_increment(last, ev)
            last = last.localCheckpoint(eager=True)
            counts = (
                inc
                if counts is None
                else inc.unionByName(counts)
                .groupBy("from_type", "to_type")
                .agg(F.sum("n").cast("long").alias("n"))
            )
            counts = counts.localCheckpoint(eager=True)
            times.append(round(time.time() - t0, 2))
            ev.write.mode("append").parquet(led)
        t0 = time.time()
        live = transitions_from_counts(counts)
        live.count()
        tr = time.time() - t0
        t0 = time.time()
        batch = event_transitions(spark.read.parquet(led))
        batch.count()
        tb = time.time() - t0
        diff = (
            live.exceptAll(batch).count() + batch.exceptAll(live).count()
        )
        print(
            f"maintained_transitions: per-tick {times} | read {tr:.2f}s "
            f"vs batch re-pair {tb:.2f}s | diff={diff}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_transitions"):
        _transitions_stress()

    def _debounce_stress() -> None:
        import shutil

        from kamu_engine_datafusion_spark.operators.funnel import (
            debounce_events,
            debounce_increment,
        )

        led = "/tmp/stress_db_ledger"
        shutil.rmtree(led, ignore_errors=True)
        types2 = F.array(F.lit("view"), F.lit("click"))
        last = None
        kept_all = None
        times = []
        for i in range(10):
            ev = spark.range(1_000_000).select(
                (F.xxhash64("id", F.lit(i)) % 50_000).alias("user_id"),
                F.timestamp_millis(
                    (
                        F.lit(1704067200000)
                        + F.lit(i * 3600_000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 3)),
                            F.lit(3600_000),
                        )
                    ).cast("long")
                ).alias("ts"),
                F.element_at(
                    types2,
                    (
                        F.pmod(F.xxhash64("id", F.lit(i + 9)), F.lit(2))
                        + 1
                    ).cast("int"),
                ).alias("event_type"),
                (F.col("id") + i * 1_000_000).alias("event_id"),
            )
            t0 = time.time()
            kept, last = debounce_increment(
                last, ev, gap_seconds=120.0
            )
            last = last.localCheckpoint(eager=True)
            kept = kept.localCheckpoint(eager=True)
            kept_all = (
                kept
                if kept_all is None
                else kept_all.unionByName(kept)
            )
            times.append(round(time.time() - t0, 2))
            ev.write.mode("append").parquet(led)
        nk = kept_all.count()
        t0 = time.time()
        batch = debounce_events(
            spark.read.parquet(led), gap_seconds=120.0
        )
        nb = batch.count()
        tb = time.time() - t0
        cols = ["user_id", "ts", "event_type", "event_id"]
        diff = (
            kept_all.select(*cols)
            .exceptAll(batch.select(*cols))
            .count()
            + batch.select(*cols)
            .exceptAll(kept_all.select(*cols))
            .count()
        )
        print(
            f"maintained_debounce: per-tick {times} | kept {nk} vs "
            f"batch {nb} in {tb:.2f}s | diff={diff}",
            flush=True,
        )
        shutil.rmtree(led, ignore_errors=True)

    if _want("maintained_debounce"):
        _debounce_stress()

    # ---- sketch/fold families: 10×-scale rows ----

    def _ks_drift_stress() -> None:
        from kamu_engine_datafusion_spark.operators.sketches import (
            ks_from_sketches,
            quantile_sketch,
            quantile_sketch_merge,
        )

        ev = events.select(
            F.col("event_type").alias("grp"),
            F.col("event_id").cast("string").alias("rid"),
            F.floor(F.col("value") * 1000 + 0.5).cast("long").alias(
                "val"
            ),
            (F.col("event_id") % 3).alias("__tick"),
        )
        t0 = time.time()
        parts = [
            quantile_sketch(
                ev.filter(F.col("__tick") == i).drop("__tick"),
                ["grp"], "rid", "val", k=256,
            )
            for i in range(3)
        ]
        ref = quantile_sketch_merge(
            [parts[0], parts[1]], ["grp"], k=256
        )
        rows = ks_from_sketches(ref, parts[2], ["grp"]).collect()
        dt = time.time() - t0
        ok = all(0.0 <= r["ks"] <= 1.0 for r in rows)
        print(
            f"ks_drift_sketch: {len(rows)} groups in {dt:.2f}s | "
            f"ks in [0,1]: {ok} | "
            f"max ks {max(r['ks'] for r in rows):.4f}",
            flush=True,
        )

    if _want("ks_drift_sketch"):
        _ks_drift_stress()

    def _ppmi_stress() -> None:
        from kamu_engine_datafusion_spark.operators.text import (
            pair_counts,
            ppmi_from_counts,
            term_counts,
        )

        t0 = time.time()
        pairs = pair_counts(docs, window=2)
        unis = term_counts(docs)
        n = ppmi_from_counts(
            pairs, unis, shift_k=2, min_count=5, top_k=100
        ).count()
        print(
            f"ppmi_window2: top-{n} from the gap-2 stream of "
            f"{docs.count()} docs in {time.time() - t0:.2f}s",
            flush=True,
        )

    if _want("ppmi_window2"):
        _ppmi_stress()

    def _trajectory_stress() -> None:
        from kamu_engine_datafusion_spark.operators.dedup import (
            dedup_trajectory_increment,
        )

        state = None
        per_tick = []
        rates = []
        for i in range(5):
            tick = docs.filter(F.col("doc_id") % 5 == i)
            t0 = time.time()
            stats, state = dedup_trajectory_increment(state, tick, i)
            r = stats.collect()[0]
            state = state.localCheckpoint(eager=True)
            per_tick.append(round(time.time() - t0, 2))
            rates.append(r["dup_rate"])
        print(
            f"dedup_trajectory: 5 ticks over {docs.count()} docs | "
            f"per-tick {per_tick} | rates {rates} | "
            f"index {state.count()} hashes",
            flush=True,
        )

    if _want("dedup_trajectory"):
        _trajectory_stress()

    def _session_quality_stress() -> None:
        from kamu_engine_datafusion_spark.operators.sessions import (
            session_quality,
        )

        t0 = time.time()
        sq = session_quality(
            events.withColumn("ts", F.col("ts").cast("timestamp")),
            gap_sec=1800,
        )
        agg = sq.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("ok").cast("long")).alias("n_ok"),
        ).collect()[0]
        print(
            f"session_quality: {agg['n']} sessions "
            f"({agg['n_ok']} ok) from {events.count()} events in "
            f"{time.time() - t0:.2f}s",
            flush=True,
        )

    if _want("session_quality"):
        _session_quality_stress()

    def _kmv_delta_stress() -> None:
        from kamu_engine_datafusion_spark.operators.sketches import (
            kmv_overlap_delta,
            kmv_overlap_monitor,
            kmv_sketch,
        )

        d = docs.select(
            "doc_id",
            F.col("source").alias("grp"),
            F.md5(
                F.trim(
                    F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
                )
            ).alias("__h"),
        )
        k = 128
        t0 = time.time()
        prev_m = kmv_overlap_monitor(
            kmv_sketch(
                d.filter(F.col("doc_id") % 3 < 2), ["grp"], "__h", k=k
            ),
            "grp", k=k,
        )
        cur_m = kmv_overlap_monitor(
            kmv_sketch(d, ["grp"], "__h", k=k), "grp", k=k
        )
        rows = kmv_overlap_delta(prev_m, cur_m, alarm_delta=0.02).collect()
        n_alarm = sum(1 for r in rows if r["alarm"])
        print(
            f"kmv_overlap_delta: {len(rows)} pairs "
            f"({n_alarm} alarms) in {time.time() - t0:.2f}s",
            flush=True,
        )

    if _want("kmv_overlap_delta"):
        _kmv_delta_stress()

    def _sessions_cadence_stress() -> None:
        """The compact_state_if_needed cadence on a SECOND family
        (r15 verdict #8): maintained_sessions' append-only ``.closed``
        log compacted between ticks — file counts stay bounded, the
        marker/replay protocol is untouched, and closed ∪ open still
        equals the batch sessionizer row-for-row at the end."""
        import os
        import shutil

        from kamu_engine_datafusion_spark.operators.sessions import (
            gap_sessionize,
        )
        from kamu_engine_datafusion_spark.streaming.structured import (
            _bucket_dirs,
            _bucket_files,
            compact_state_if_needed,
            maintained_sessions,
            read_maintained_sessions,
        )

        led = "/tmp/stress_sc_ledger"
        st = "/tmp/stress_sc_state"
        ck = "/tmp/stress_sc_ck"
        for d in (led, st, st + ".closed", ck):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(led)

        def closed_files() -> int:
            root = st + ".closed"
            return max(
                (len(_bucket_files(root, b)) for b in _bucket_dirs(root)),
                default=0,
            )

        n_ticks, per_tick = 30, 200_000
        n_compactions, max_files = 0, 0
        for i in range(n_ticks):
            ev = spark.range(per_tick).select(
                F.pmod(F.xxhash64("id", F.lit(i)), F.lit(20_000)).alias(
                    "user_id"
                ),
                F.timestamp_millis(
                    (
                        F.lit(1704067200000)
                        + F.lit(i * 3_600_000)
                        + F.pmod(
                            F.xxhash64("id", F.lit(i + 5)),
                            F.lit(3_600_000),
                        )
                    ).cast("long")
                ).alias("ts"),
                (F.col("id") + i * per_tick).alias("event_id"),
            )
            ev.coalesce(1).write.mode("append").parquet(led)
            maintained_sessions(
                led, st, ck, gap_sec=120,
                schema=spark.read.parquet(led).schema, spark=spark,
            ).awaitTermination()
            max_files = max(max_files, closed_files())
            if compact_state_if_needed(
                spark, st + ".closed", trigger_files_per_bucket=8
            ):
                n_compactions += 1
        t0 = time.time()
        live = read_maintained_sessions(spark, st)
        n_live = live.count()
        tr = time.time() - t0
        batch = (
            gap_sessionize(
                spark.read.parquet(led), gap_sec=120
            )
            .groupBy("user_id", "session_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .count()
        )
        print(
            f"sessions_cadence: {n_ticks} ticks x {per_tick} events, "
            f"trigger=8 -> {n_compactions} compactions, max "
            f"closed-files/bucket ever {max_files}, final "
            f"{closed_files()} | read {tr:.2f}s | sessions {n_live} "
            f"== batch {batch}: {n_live == batch}",
            flush=True,
        )
        for d in (led, st, st + ".closed", ck):
            shutil.rmtree(d, ignore_errors=True)

    if _want("sessions_cadence"):
        _sessions_cadence_stress()


if __name__ == "__main__":
    main()
