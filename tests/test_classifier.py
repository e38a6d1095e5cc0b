"""Hashed-feature linear quality classifier: python-reference
trajectory equality, holdout AUC on a separable synthetic corpus, and
scoring edge cases."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.operators.classifier import (
    score_quality,
    train_quality_classifier,
)

_M31 = 2_147_483_647


def _poly(s: str) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % _M31
    return acc


def _py_train(rows, buckets, iters, lr_num, scale_bits=20, clamp=16):
    """Pure-python replica of the fixed-point GD trajectory
    (rows = [(id, text, y)])."""
    s = 1 << scale_bits
    cl = clamp * s
    feats = []
    for _, t, y in rows:
        toks = [x for x in re.split(r"\s+", (t or "").strip().lower()) if x]
        feats.append((y, sorted({_poly(tk) % buckets for tk in toks})))
    n = len(feats)
    w = [0] * (buckets + 1)
    traj = [list(w)]
    for it in range(1, iters + 1):
        g = [0] * (buckets + 1)
        for y, bs in feats:
            z = sum(w[b] for b in bs) + w[buckets]
            zc = max(-cl, min(cl, z))
            num = (s + abs(zc) + zc) * s
            den = 2 * (s + abs(zc))
            r = (2 * num + den) // (2 * den) - y * s
            for b in bs:
                g[b] += r
            g[buckets] += r
        w = [w[j] - (lr_num * g[j]) // (it * n) for j in range(buckets + 1)]
        traj.append(list(w))
    return traj


def _two_vocab_corpus(n=400, seed=5):
    """Separable synthetic corpus: positives draw mostly from a
    'quality' vocabulary, negatives mostly from a 'junk' one, with
    shared noise words — the curated-vs-crawl shape."""
    rng = random.Random(seed)
    good = ["insight", "theorem", "analysis", "method", "resultant",
            "precise", "measured", "evidence"]
    junk = ["zzspam", "clickzz", "xxwin", "freexx", "zzcasino",
            "xxpill", "zzlotto", "buyzz"]
    noise = ["the", "a", "of", "and", "to", "in"]
    rows = []
    for i in range(n):
        y = i % 2
        vocab = good if y else junk
        toks = [rng.choice(vocab) for _ in range(rng.randint(8, 20))]
        toks += [rng.choice(noise) for _ in range(rng.randint(5, 15))]
        # cross-contamination noise
        other = junk if y else good
        if rng.random() < 0.25:
            toks.append(rng.choice(other))
        rng.shuffle(toks)
        rows.append((i, " ".join(toks), y))
    return rows


def test_classifier_matches_python_reference(spark):
    rows = _two_vocab_corpus(n=120)
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    traj = train_quality_classifier(
        df, "doc_id", "text", "y", buckets=32, iters=4, lr_num=8
    )
    want = _py_train(rows, buckets=32, iters=4, lr_num=8)
    assert traj == want  # every iteration, every weight, bit for bit


def test_classifier_holdout_auc(spark):
    rows = _two_vocab_corpus(n=400)
    train = [r for r in rows if _poly(f"{r[0]}#split") % 5 != 0]
    hold = [r for r in rows if _poly(f"{r[0]}#split") % 5 == 0]
    df = spark.createDataFrame(train, "doc_id long, text string, y int")
    w = train_quality_classifier(
        df, "doc_id", "text", "y", buckets=64, iters=8, lr_num=16
    )[-1]
    hdf = spark.createDataFrame(hold, "doc_id long, text string, y int")
    scored = score_quality(hdf, "text", w, buckets=64).select(
        "y", "quality_margin"
    ).collect()
    # driver-side AUC over the (small) holdout: P(margin_pos > margin_neg)
    pos = [r["quality_margin"] for r in scored if r["y"] == 1]
    neg = [r["quality_margin"] for r in scored if r["y"] == 0]
    assert pos and neg
    wins = sum(
        1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg
    )
    auc = wins / (len(pos) * len(neg))
    assert auc > 0.95, f"holdout AUC {auc:.3f}"
    # and the margin separates in the right DIRECTION
    assert sum(1 for p in pos if p > 0) > 0.8 * len(pos)


def test_classifier_score_null_and_empty_text(spark):
    df = spark.createDataFrame(
        [(1, "insight theorem", 1), (2, None, 0), (3, "   ", 0)],
        "doc_id long, text string, y int",
    )
    w = [1000] * 16 + [-42]  # 16 buckets + bias
    got = {
        r["doc_id"]: r["quality_margin"]
        for r in score_quality(df, "text", w, buckets=16).collect()
    }
    assert got[2] == -42 and got[3] == -42  # bias alone
    assert got[1] == 2 * 1000 - 42  # two distinct token buckets


def test_classifier_presence_not_counts(spark):
    # repeating a token must not change the margin (binarized features)
    df = spark.createDataFrame(
        [(1, "alpha alpha alpha alpha", 1), (2, "alpha", 1)],
        "doc_id long, text string, y int",
    )
    w = [7] * 16 + [0]
    got = {
        r["doc_id"]: r["quality_margin"]
        for r in score_quality(df, "text", w, buckets=16).collect()
    }
    assert got[1] == got[2] == 7


def test_classifier_grad_backend_twins(spark):
    """The mapInArrow gradient kernel (over the vectorized bucket-set
    build) must reproduce the staged Spark SQL formulation (per-token
    bucket fold, broadcast weight row, exploded presence features) bit
    for bit — including NULL and whitespace-only text rows (bias-only
    contribution, counted in n)."""
    from tests import jvm_twins as J

    rows = _two_vocab_corpus(n=80)
    rows += [(1000, None, 0), (1001, "   ", 1)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    kwargs = dict(buckets=32, iters=3, lr_num=8)
    a = train_quality_classifier(df, "doc_id", "text", "y", **kwargs)
    b = J.train_quality_classifier_staged(df, "doc_id", "text", "y", **kwargs)
    assert a == b  # every iteration, every weight
    assert a[-1] != a[0]  # the trajectory actually moved


def test_classifier_empty_frame_raises(spark):
    import pytest

    df = spark.createDataFrame([], "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="empty training frame"):
        train_quality_classifier(df, "doc_id", "text", "y", iters=1)


def test_classifier_empty_frame_raises_without_iterations(spark):
    """iters=0 runs no gradient pass, yet an empty frame still raises;
    a non-empty frame returns the zero start weights alone."""
    import pytest

    empty = spark.createDataFrame([], "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="empty training frame"):
        train_quality_classifier(empty, "doc_id", "text", "y", iters=0)
    df = spark.createDataFrame([(1, "a b", 1)], "doc_id long, text string, y int")
    assert train_quality_classifier(
        df, "doc_id", "text", "y", buckets=4, iters=0
    ) == [[0] * 5]
