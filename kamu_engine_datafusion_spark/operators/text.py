"""Text-analysis operators for training-data pipelines.

All pure column math (regexp/length/array built-ins) — these run inside
whole-stage codegen at full scan speed, which is what you want when
scoring 100 TB of documents:

- :func:`language_id` — stopword-hit heuristic language guesser.
- :func:`quality_features` / :func:`quality_score` — length/punct/
  stopword/word-length signals composed into a [0,1] score.
- :func:`token_count` / :func:`bpe_ish_token_count` — whitespace tokens
  and a BPE-ish word/punctuation regex count.
- :func:`fingerprint` — order-insensitive content fingerprint (md5 of
  sorted distinct tokens) for clustering shuffled/reordered copies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kamu_engine_datafusion_spark.functions.columns import tokens

#: Tiny public stopword lists (top function words per language).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "se", "no"],
    "fr": ["le", "la", "de", "et", "est", "un", "une", "dans", "que", "pour"],
}


def _word_regex(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def stopword_hits(text: Column | str, lang: str) -> Column:
    """Count of stopword occurrences for one language's list."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(_word_regex(STOPWORDS[lang])))


def language_id_from_hits(hits: dict[str, Column]) -> Column:
    """:func:`language_id`'s decision arithmetic over already-computed
    per-language hit counts. Consumers scoring large corpora should
    materialize :func:`stopword_hits` per language in their own
    projection and apply this on the columns: inlined into one fused
    expression the CASE chain references each regexp up to 9× (36
    regexp nodes in the plan vs 4 — r17)."""
    best_count = F.greatest(*hits.values())
    result = F.lit("und")
    # later (reverse-sorted) languages only win strictly greater counts —
    # earlier code order wins ties
    for lang in sorted(hits, reverse=True):
        result = F.when(
            (hits[lang] == best_count) & (best_count > 0), F.lit(lang)
        ).otherwise(result)
    return result


def language_id(text: Column | str) -> Column:
    """Heuristic language guess: the language whose stopword list hits
    most often; ties and zero hits fall back to ``und`` (undetermined).

    Deterministic tie-break: languages compared in sorted code order via
    a greatest-hits scan.
    """
    hits = {lang: stopword_hits(text, lang) for lang in sorted(STOPWORDS)}
    return language_id_from_hits(hits)


def predict_language(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    out_col: str = "pred_lang",
) -> DataFrame:
    """DataFrame-level :func:`language_id`: per-language hit counts
    materialize ONCE in a first projection, the arg-max decision runs
    on the counted columns in a second (r17 — the two-stage shape that
    keeps each stopword regexp to one evaluation; value-identical to
    the fused column form by construction)."""
    base = df.select(
        *keep_cols,
        *[
            stopword_hits(text_col, lang).alias(f"__h_{lang}")
            for lang in sorted(STOPWORDS)
        ],
    )
    hits = {lang: F.col(f"__h_{lang}") for lang in sorted(STOPWORDS)}
    return base.select(
        *keep_cols, language_id_from_hits(hits).alias(out_col)
    )


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column | str) -> Column:
    """BPE-ish token estimate: word pieces of ≤4 chars + punctuation
    marks, via regex match count (a cheap stand-in for a real tokenizer
    with the right order of magnitude)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"\w{1,4}|[^\w\s]")).cast("long")


def quality_signals(text: Column | str) -> dict[str, Column]:
    """The four EXPENSIVE raw count signals (one ``length``, one token
    split, five regexp scans) every quality feature derives from. Kept
    separate from :func:`quality_features_from_signals` so a consumer
    that needs several features (or features + score) can materialize
    these once in their own projection and derive the rest as cheap
    arithmetic — a single fused projection re-evaluates each regexp per
    reference (CollapseProject inlines aliases; measured 2× the scan
    cost on the sf0.1 corpus, r17)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        "n_chars": F.length(c).cast("double"),
        "n_tokens": F.size(tokens(c)).cast("double"),
        "n_punct": F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double"),
        "n_stop": sum(
            (stopword_hits(c, lang) for lang in sorted(STOPWORDS)),
            F.lit(0),
        ).cast("double"),
    }


def quality_features_from_signals(s: dict[str, Column]) -> dict[str, Column]:
    """Derive the feature columns from (already-computed) signal
    columns — pure arithmetic, bit-identical to :func:`quality_features`
    by construction (same expressions over the same values)."""
    n_chars, n_tokens = s["n_chars"], s["n_tokens"]
    mean_word_len = F.when(
        n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars > 0, s["n_punct"] / n_chars).otherwise(
            F.lit(0.0)
        ),
        "stopword_ratio": F.when(n_tokens > 0, s["n_stop"] / n_tokens).otherwise(
            F.lit(0.0)
        ),
        "mean_word_len": mean_word_len,
    }


def quality_features(text: Column | str) -> dict[str, Column]:
    """Raw quality signals for a document."""
    return quality_features_from_signals(quality_signals(text))


def quality_score_from_features(f: dict[str, Column]) -> Column:
    """The composite score from (already-computed) feature columns —
    the arithmetic of :func:`quality_score` verbatim."""
    length_ok = F.least(f["n_tokens"] / F.lit(20.0), F.lit(1.0))
    stop_ok = F.least(f["stopword_ratio"] * 5.0, F.lit(1.0))
    word_ok = F.when(
        (f["mean_word_len"] >= 2.0) & (f["mean_word_len"] <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - f["punct_ratio"] * 5.0)
    return F.round(
        0.3 * length_ok + 0.3 * stop_ok + 0.2 * word_ok + 0.2 * punct_ok, 6
    )


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score: rewards reasonable length, some
    stopwords (i.e. natural language), a sane mean word length, and low
    punctuation density. Weights are heuristic and documented in code."""
    return quality_score_from_features(quality_features(text))


def repetition_ratio(text: Column | str, n: int = 3) -> Column:
    """Within-document repetition: 1 - distinct/total n-gram shingles.

    High values flag boilerplate/looping generations (a standard
    quality-filter signal). Pure column math at scan speed.
    """
    from kamu_engine_datafusion_spark.functions.columns import word_shingles

    sh = word_shingles(tokens(text), n)
    total = F.size(sh).cast("double")
    distinct = F.size(F.array_distinct(sh)).cast("double")
    return F.round(
        F.when(total > 0, 1.0 - distinct / total).otherwise(F.lit(0.0)), 6
    )


#: Redaction patterns: email, IPv4, international-ish phone (public
#: regexes; intentionally conservative). Order matters: IPs must be
#: redacted before the looser phone pattern would swallow them.
_PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Replace emails / phone numbers / IPv4 addresses with typed
    placeholder tokens (chained regexp_replace — scan-speed)."""
    c = F.col(text) if isinstance(text, str) else text
    for pattern, token in _PII_PATTERNS:
        c = F.regexp_replace(c, pattern, token)
    return c


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Robust to shuffled copies; cheap enough for full scans."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def gopher_rules(text: Column | str) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1) as
    pure-codegen boolean columns — each True means the rule PASSES:

    - word count in [50, 100_000];
    - mean word length in [3, 10] characters;
    - symbol-to-word ratio (``#`` and ``…``) below 0.1;
    - less than 90% of lines starting with a bullet;
    - at least 80% of words contain an alphabetic character.

    All column math at scan speed — at 100 TB this filter runs inside
    the Parquet scan stage with zero shuffles.
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(F.trim(c), r"\s+")
    n_words = F.size(words)
    mean_wlen = F.length(F.regexp_replace(c, r"\s+", "")) / n_words
    n_symbols = (
        F.length(c) - F.length(F.regexp_replace(c, r"[#…]", ""))
    )
    lines = F.split(c, r"\n")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-\*•]"))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    return {
        "rule_word_count": (n_words >= 50) & (n_words <= 100_000),
        "rule_mean_word_len": (mean_wlen >= 3.0) & (mean_wlen <= 10.0),
        "rule_symbol_ratio": (n_symbols / n_words) < 0.1,
        "rule_bullet_lines": (bullet_lines / F.size(lines)) < 0.9,
        "rule_alpha_words": (alpha_words / n_words) >= 0.8,
    }


def quality_rule_counts(
    df,
    group_col: str = "source",
    text_col: str = "text",
) -> "DataFrame":
    """Per-group Gopher rule-hit counters as one ADDITIVE frame —
    the increment function of the maintained quality-rate monitor
    (``streaming.maintained_quality_rates``): ``(grp, n_docs,
    c_<rule>…, c_pass_all)`` with one BIGINT pass-count per
    :func:`gopher_rules` rule. Counts are additive, so the cross-tick
    fold is cell-wise addition and state after any ticks equals the
    batch counters of the whole ledger; the rates read
    (:func:`quality_rates_from_counts`) then touches |groups| metadata
    rows — the per-source quality dashboard a 100 TB crawl ingest
    keeps live without re-scanning history (a source whose pass rate
    drops tick-over-tick is a feed gone bad, caught at ingest).

    NULL-text rows count in ``n_docs`` but in no ``c_`` column (the
    rule expressions are NULL on NULL text and ``sum`` skips NULLs) —
    i.e. a NULL doc FAILS every rule; deterministic, and identical in
    the batch twin since both sides aggregate the same expressions.

    Scale: ONE partial+final aggregate over the scan — the counters
    are |groups| × (rules + 2) longs; no shuffle of the corpus."""
    # r17: the rule BOOLEANS materialize once in their own projection;
    # the sums aggregate plain columns. Inlining the rules into the
    # aggregate expressions re-evaluated the split/regexp pipeline per
    # reference (216 split + 72 regexp nodes in the maintained keys'
    # plans vs 4 + 3 now; pass_all alone re-ran all five rules).
    # Identical counts: same boolean values, NULL semantics unchanged
    # (NULL text → NULL rules → sum skips; pass_all AND over the same
    # three-valued columns).
    rules = gopher_rules(text_col)
    base = df.select(
        F.col(group_col).alias("grp"),
        *[v.alias(f"__r_{k}") for k, v in rules.items()],
    )
    passes = None
    for k in rules:
        c = F.col(f"__r_{k}")
        passes = c if passes is None else (passes & c)
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    aggs += [
        F.sum(F.col(f"__r_{k}").cast("long")).cast("long").alias(f"c_{k}")
        for k in rules
    ]
    aggs.append(F.sum(passes.cast("long")).cast("long").alias("c_pass_all"))
    return base.groupBy("grp").agg(*aggs)


def quality_rates_from_counts(counts, dp: int = 4) -> "DataFrame":
    """Per-group PASS RATES read from a :func:`quality_rule_counts`
    frame (or ``maintained_quality_rates`` state) ALONE: each ``c_*``
    counter becomes ``rate_* = c_* / n_docs`` (half-up ``dp``). At
    100 TB this is the after-every-tick read of the quality monitor —
    |groups| metadata rows, the corpus never re-read; identical to
    computing the rates over the whole ledger because the counters
    fold exactly (pytest-pinned)."""
    from kamu_engine_datafusion_spark.functions.columns import half_up

    sel = [F.col("grp"), F.col("n_docs")]
    for c in counts.columns:
        if c.startswith("c_"):
            sel.append(
                half_up(F.col(c) / F.col("n_docs"), dp).alias(
                    "rate_" + c[2:]
                )
            )
    return counts.select(*sel)


def term_counts(df, text_col: str = "text") -> "DataFrame":
    """The wordcount frame ``(token, freq)`` as an ADDITIVE increment —
    the per-tick function of ``streaming.maintained_term_counts``:
    counts fold cell-wise, so state after any ticks equals the batch
    counts of the whole ledger and :func:`vocabulary_from_counts`
    reads the induced vocabulary from vocab-sized state instead of
    re-exploding 100 TB of text. Bounded at |vocab| rows (map-side
    partial counts cap each task's exchange at one long per distinct
    token)."""
    return (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )


def vocabulary_from_counts(counts, top_v: int = 1000) -> "DataFrame":
    """Top-``top_v`` vocabulary read from a :func:`term_counts` frame
    (or ``maintained_term_counts`` state) ALONE — identical output to
    :func:`vocabulary` over the corpus the counts summarize (same
    (freq desc, token asc) rank; pytest-pinned row-for-row; the batch
    path stays byte-identical — the ``centroid_stats`` discipline).
    The downstream consumers (:func:`oov_rate`,
    :func:`unigram_logprob`) take the vocabulary frame as-is, so the
    whole OOV-coverage report runs from maintained state."""
    from pyspark.sql import Window

    top = counts.orderBy(F.col("freq").desc(), "token").limit(top_v)
    w = Window.orderBy(F.col("freq").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def c4_line_filter(
    text: Column | str,
    min_words_per_line: int = 3,
    require_terminal_punct: bool = True,
    sep: str = "\n",
) -> Column:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2): keep only
    lines that end in terminal punctuation (when
    ``require_terminal_punct``), have at least ``min_words_per_line``
    words, and don't contain boilerplate markers ("lorem ipsum",
    "javascript", "{"); returns the cleaned text (surviving lines
    re-joined with ``sep``).
    """
    import re as _re

    c = F.col(text) if isinstance(text, str) else text
    lines = F.split(c, _re.escape(sep))

    def keep(l: Column) -> Column:
        cond = (
            (F.size(F.split(F.trim(l), r"\s+")) >= min_words_per_line)
            & ~F.lower(l).contains("lorem ipsum")
            & ~F.lower(l).contains("javascript")
            & ~l.contains("{")
        )
        if require_terminal_punct:
            cond = cond & l.rlike(r"[.!?”\"']\s*$")
        return cond

    return F.array_join(F.filter(lines, keep), sep)


def vocabulary(df, text_col: str = "text", top_v: int = 1000):
    """Top-``top_v`` vocabulary by token frequency: ``(token, freq,
    rank)``, rank deterministic by (freq desc, token asc).

    Classic wordcount shape: explode → groupBy token (map-side partial
    counts carry one long per distinct token per partition) → TopK.
    The global ranking never materializes a full sort: ``orderBy +
    limit`` plans as TakeOrderedAndProject, and the rank window runs
    over the already-limited ``top_v`` rows (one bounded partition).
    """
    from pyspark.sql import Window

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    top = counts.orderBy(F.col("freq").desc(), "token").limit(top_v)
    w = Window.orderBy(F.col("freq").desc(), "token")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def oov_rate(df, vocab, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document out-of-vocabulary rate against a vocabulary frame
    (any DataFrame with a ``token`` column): fraction of token
    OCCURRENCES not found in the vocabulary, plus the occurrence count.

    The vocabulary is broadcast (bounded at ``top_v`` rows by
    construction), so the corpus explode joins map-side — the only
    exchange is the per-doc re-aggregation, keyed on the uniform doc id.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    marked = tok.join(
        F.broadcast(vocab.select("token").distinct().withColumn("__in", F.lit(1))),
        "token",
        "left",
    )
    n = F.count(F.lit(1))
    return marked.groupBy(id_col).agg(
        n.alias("n_tokens"),
        F.round((n - F.count("__in")) / n, 4).alias("oov_rate"),
    )


def unigram_logprob(df, vocab, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document mean unigram log-probability — the cheap stand-in
    for LM-perplexity quality filtering (CCNet-style): each token
    occurrence scores ``ln(freq/total)`` from a ``(token, freq)``
    vocabulary; out-of-vocabulary occurrences floor at
    ``ln(0.5/total)``. Lower mean ⇒ rarer/noisier text.

    Scale: the vocabulary broadcasts (bounded by construction); the only
    exchange is the per-doc re-aggregation on the uniform id.
    """
    total = float(vocab.agg(F.sum("freq")).collect()[0][0])  # tiny scalar
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
    scored = tok.join(
        F.broadcast(vocab.select("token", "freq")), "token", "left"
    )
    lp = F.when(
        F.col("freq").isNotNull(), F.log(F.col("freq") / F.lit(total))
    ).otherwise(F.log(F.lit(0.5 / total)))
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg(lp), 4).alias("mean_logprob"),
    )


def chunk_documents(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 512,
    overlap_tokens: int = 64,
):
    """Split documents into overlapping token-window chunks — the
    embedding-pipeline preprocessing shape (a chunk every
    ``chunk_tokens - overlap_tokens`` tokens, each ``chunk_tokens``
    long, the last one possibly shorter).

    Returns ``(id, chunk_idx, n_chunk_tokens, chunk_text)`` — one row
    per chunk, in-row ``sequence``/``slice``/``explode`` column math:
    embarrassingly parallel, no shuffle at any corpus width. The token
    array materializes ONCE per document (a Generate node separates the
    projections, so it is never inlined per chunk), and a trailing
    window whose tokens are wholly contained in the previous chunk is
    not emitted (it would be a 100%-duplicate row; happens whenever the
    last start leaves fewer than ``overlap_tokens + 1`` new tokens).
    ``chunk_idx`` stays the window's ordinal position in the unfiltered
    stride, so indices are stable under the subset-drop.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    step = chunk_tokens - overlap_tokens
    toked = df.select(
        F.col(id_col), tokens(text_col).alias("__tok")
    )
    n = F.size("__tok")
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step)),
        # keep the first window always; a later window only if it adds
        # tokens beyond the previous window's end (start+overlap <= n)
        lambda s: (s == 1) | (s + overlap_tokens <= n),
    )
    exploded = toked.select(
        F.col(id_col), "__tok", F.explode(starts).alias("__start")
    )
    chunk = F.slice(F.col("__tok"), F.col("__start"), chunk_tokens)
    return exploded.select(
        id_col,
        ((F.col("__start") - 1) / step).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def clean_text(text_col="text", lowercase: bool = False):
    """Normalization for ingest hygiene: strip zero-width characters
    (ZWSP/ZWNJ/ZWJ/BOM), map every C0/C1-ish control character
    (``\\x00-\\x1f``, ``\\x7f``) to a space, collapse space runs, trim
    — optionally lowercase.

    Pure in-row regex chain (JVM codegen, zero shuffle). The control
    pass deliberately runs BEFORE the collapse so tabs/newlines fold
    into the single-space normal form; character classes are spelled
    explicitly (no ``\\s``) because Java and RE2 disagree on ``\\s``
    membership (``\\x0b``) — the explicit classes behave identically in
    Spark, DuckDB, and any RE2/PCRE engine an oracle might use.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.regexp_replace(c, "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]", "")
    c = F.regexp_replace(c, "[\\x00-\\x1f\\x7f]", " ")
    c = F.trim(F.regexp_replace(c, " +", " "))
    return F.lower(c) if lowercase else c


def char_entropy(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document Shannon character entropy (natural log) — the
    classic gibberish/low-information signal (binary junk ≈ high,
    "aaaa…" ≈ 0, natural language in between).

    Returns ``(id, n_chars, entropy)``. Formulation: explode to one row
    per character, count per (doc, char), then
    ``H = ln(n) − Σ c·ln(c) / n`` per doc — two keyed exchanges, all
    whole-stage-codegen (no interpreted higher-order lambdas; an
    in-row ``filter``-per-distinct-char form is O(distinct × length)
    interpreted — measured slower). The (doc, char) exchange carries at
    most alphabet-size rows per doc after map-side partial counts.
    Empty/null docs emit ``n_chars = 0, entropy = 0``.
    """
    # Keep empty/null docs (explode_outer) but normalize their phantom
    # character to NULL, and exclude the NULL group from BOTH aggregates:
    # engines disagree on splitting '' (Spark split → [], DuckDB
    # string_split → ['']), so if the phantom group leaked into the
    # entropy denominator or n_chars the two sides would diverge on
    # empty documents.
    chars = df.select(
        F.col(id_col),
        F.explode_outer(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "")
        ).alias("__raw"),
    ).select(
        id_col,
        F.when(F.col("__raw") == "", F.lit(None))
        .otherwise(F.col("__raw"))
        .alias("__ch"),
    )
    per_char = chars.groupBy(id_col, "__ch").agg(
        F.count(F.lit(1)).alias("__c")
    )
    real = F.when(F.col("__ch").isNull(), 0)
    n = F.sum(real.otherwise(F.col("__c")))
    # H = -sum(p ln p) = ln(n) - sum(c ln c)/n  (exactly 0 when n=1)
    return per_char.groupBy(id_col).agg(
        n.cast("long").alias("n_chars"),
        F.when(
            n > 0,
            F.log(n.cast("double"))
            - F.sum(
                real.otherwise(
                    F.col("__c") * F.log(F.col("__c").cast("double"))
                )
            )
            / n,
        )
        .otherwise(F.lit(0.0))
        .alias("entropy"),
    )


def skipgram_pairs(toked, window: int = 1):
    """Ordered co-occurrence pairs ``(w_i, w_{i+d})`` for every gap
    ``d ≤ window`` — in-row ``slice``+``arrays_zip`` per gap, exploded.
    ``window=1`` is plain adjacent bigrams; larger windows give the
    word2vec-style co-occurrence stream. No self-join, no Window."""
    n_tok = F.size("__tok")
    per_gap = []
    for d in range(1, window + 1):
        # explicit length guard: arrays_zip of empty slices is not
        # reliably empty (a zero-length slice of an empty array zips to
        # a one-row struct); the empty-literal branch explodes to nothing
        per_gap.append(
            F.when(
                n_tok >= d + 1,
                F.arrays_zip(
                    F.slice("__tok", 1, n_tok - d),
                    F.slice("__tok", 1 + d, n_tok - d),
                ),
            ).otherwise(F.array())
        )
    grams = per_gap[0] if len(per_gap) == 1 else F.concat(*per_gap)
    return toked.select(F.explode(grams).alias("__bg")).select(
        F.col("__bg").getField("0").alias("w1"),
        F.col("__bg").getField("1").alias("w2"),
    )


def collocations(
    df,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 100,
    window: int = 1,
):
    """Collocation extraction: top-k co-occurring word pairs by
    pointwise mutual information,
    ``PMI = ln( (c12/B) / ((c1/N)·(c2/N)) )`` with ``N`` total tokens,
    ``B`` total pairs, ``min_count`` pruning the long tail of one-off
    pairs (classic Church & Hanks shape). ``window=1`` scores adjacent
    bigrams; ``window=k`` scores every ordered pair within k positions
    (skip-gram co-occurrence — the word2vec context statistic).

    Scale: pairs come from in-row ``slice``+``arrays_zip`` per gap (no
    self-join, no window function; pair stream is window× tokens);
    both count tables partial-aggregate before their exchange; the
    unigram join keys are the vocabulary (Zipf — the hot head is
    exactly what ``min_count`` already shrank the probe side to);
    final top-k is sort+limit = TakeOrderedAndProject.
    Returns ``(w1, w2, n_pair, pmi)``.
    """
    toked = df.select(tokens(text_col).alias("__tok"))
    pairs = skipgram_pairs(toked, window)
    uni = (
        toked.select(F.explode("__tok").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = uni.agg(
        F.sum("c").cast("double").alias("N")
    )
    bg = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    b_total = pairs.agg(F.count(F.lit(1)).cast("double").alias("B"))
    scored = (
        bg.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(b_total))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.log(
                (F.col("n_pair") / F.col("B"))
                / ((F.col("c1") / F.col("N")) * (F.col("c2") / F.col("N")))
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), "w1", "w2"
    ).limit(top_k)


def bigram_lm_score(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 0.5,
):
    """Per-document average bigram log-probability — the
    train-a-tiny-LM-on-the-corpus-and-score-it quality signal (the
    perplexity-filter proxy one step up from
    :func:`unigram_logprob`): ``P(w2|w1) = (c(w1,w2) + k) /
    (c(w1) + k·V)`` with add-k smoothing over the corpus's own counts.

    Returns ``(id, n_bigrams, avg_logprob)`` — ``avg_logprob`` null for
    docs with < 2 tokens. Atypical word sequences (shuffled text,
    boilerplate splices) score low even when their unigrams are common.

    Scale: bigram positions come from the in-row slice+zip (no window,
    no self-join); the count tables partial-aggregate before their
    exchanges; scoring joins the per-doc bigram stream to the bigram
    count table (keys = observed vocabulary², Zipf-distributed but
    uniformly hashed) and the per-doc aggregate is one keyed exchange.
    """
    toked = df.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__tok")
    )
    n_tok = F.size("__tok")
    bigrams = F.when(
        n_tok >= 2,
        F.arrays_zip(
            F.slice("__tok", 1, n_tok - 1),
            F.slice("__tok", 2, n_tok - 1),
        ),
    ).otherwise(F.array())
    doc_bg = toked.select(
        "__id", F.explode(bigrams).alias("__bg")
    ).select(
        "__id",
        F.col("__bg").getField("0").alias("w1"),
        F.col("__bg").getField("1").alias("w2"),
    )
    uni = (
        toked.select(F.explode("__tok").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vsize = uni.agg(F.count(F.lit(1)).cast("double").alias("V"))
    bg = doc_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        doc_bg.join(bg, ["w1", "w2"])
        .join(uni.select(F.col("w").alias("w1"), "c1"), "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "__id",
            F.log(
                (F.col("c12") + F.lit(add_k))
                / (F.col("c1") + F.lit(add_k) * F.col("V"))
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        (F.sum("__lp") / F.count(F.lit(1))).alias("avg_logprob"),
    )
    # docs with no bigrams surface with nulls (LEFT join back to ids)
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(per_doc, "__id", "left").select(
        F.col("__id").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "avg_logprob",
    )


#: Symbol sentinel for the BPE trainer: every symbol in a word's
#: working representation is prefixed with this char, so a pair pattern
#: "␟A ␟B" can never match inside a longer symbol and plain (non-regex)
#: left-to-right replace() implements the BPE merge exactly.
_BPE_SENT = chr(31)


def bpe_merges(
    df,
    text_col: str = "text",
    num_merges: int = 8,
    batch_size: int = 32,
):
    """Byte-pair-encoding merge training on the corpus — the classic
    subword-tokenizer learner (Sennrich et al.), distributed the way
    real BPE trainers work: the state is the DISTINCT-WORD frequency
    table (vocabulary-sized, not corpus-sized), each round counts
    adjacent symbol pairs weighted by word frequency, merges the most
    frequent pair(s) (ties: lexicographically smallest), and rewrites
    the word table with plain left-to-right ``replace`` — the sentinel
    prefix on every symbol makes the pair pattern unambiguous without
    regex, so Spark and SQL engines apply the identical merge.

    Returns ``(rank, merge_left, merge_right, n)`` — the learned merge
    list with pair frequencies at selection time (sentinels stripped).

    **Batched rounds, provably ≡ sequential.** A 30k-merge vocabulary
    as one Spark job + collect per merge is 30k sequential driver
    round-trips — not a scale design. Instead each round fetches the
    top ``batch_size + 1`` pairs and accepts the maximal prefix of the
    (count desc, lex) order that is (a) pairwise symbol-disjoint and
    (b) STRICTLY above the cut ``c* = count of the first candidate
    that conflicts with the prefix (or of the last fetched candidate
    if none conflicts)``. Disjointness makes the accepted pairs'
    counts invariant under each other's merges; every other pair —
    including any pair a merge newly creates, whose count is bounded
    by a conflicting parent's count ≤ c* — stays strictly below every
    accepted count, so the sequential argmax provably selects exactly
    the accepted pairs in the accepted order. When the guard admits
    nothing (e.g. the top two candidates tie and conflict), the round
    degrades to the plain sequential top-1 step, so progress and
    exactness are never traded. ``batch_size=1`` is literal
    sequential BPE.

    Scale: one corpus pass builds the word-count state; each round is
    one partial-aggregated pair count over the VOCABULARY (plus a
    ``batch_size + 1``-row collect — the sanctioned tiny driver
    round-trip that merge selection fundamentally needs) and one
    in-row rewrite applying the whole batch, collapsing a 30k-merge
    run from 30k jobs to roughly ``30k / batch_size``. State is
    ``localCheckpoint``-ed per round (lineage truncated — a cached
    chain re-analyzes O(rounds²) in the driver and dominates long
    runs; measured ~19s vs >10min for a full-vocab run at sf0.1).
    """
    words = (
        df.select(F.explode(tokens(text_col)).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            F.array_join(
                F.transform(
                    F.split("__w", ""),
                    lambda c: F.concat(F.lit(_BPE_SENT), c),
                ),
                " ",
            ).alias("__sym"),
            "__n",
        )
    )
    spark = df.sparkSession
    # localCheckpoint (not persist): each round derives the next state
    # via withColumn, so a cached-but-unbroken lineage grows by one
    # plan level per round and Catalyst re-analyzes the WHOLE chain
    # every round — O(rounds²) driver time that dominated a 256-merge
    # run (~19s checkpointed vs >10min cached at sf0.1). Checkpointing
    # truncates the lineage; the state is vocabulary-sized, so the
    # materialization is trivial. (localCheckpoint state doesn't
    # survive executor loss — acceptable for a bounded training loop;
    # re-run the trainer on failure.)
    state = words.localCheckpoint(eager=True)
    merges = []
    n_sym = F.size(F.split(F.col("__sym"), " "))
    fetch = max(2, batch_size + 1)
    while len(merges) < num_merges:
        syms = F.split("__sym", " ")
        pairs = state.filter(n_sym >= 2).select(
            "__n",
            F.explode(
                F.arrays_zip(
                    F.slice(syms, 1, F.size(syms) - 1),
                    F.slice(syms, 2, F.size(syms) - 1),
                )
            ).alias("__p"),
        ).select(
            F.col("__p").getField("0").alias("l"),
            F.col("__p").getField("1").alias("r"),
            "__n",
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("__n").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(fetch)
            .collect()
        )
        if not top:
            break
        accepted = []
        if batch_size > 1:
            # maximal symbol-disjoint prefix, then the strict cut
            used: set[str] = set()
            cut_n = int(top[-1]["n"]) if len(top) == fetch else -1
            for row in top:
                if {row["l"], row["r"]} & used:
                    cut_n = int(row["n"])  # first conflict sets c*
                    break
                accepted.append(row)
                used.update((row["l"], row["r"]))
            accepted = [row for row in accepted if int(row["n"]) > cut_n]
        if not accepted:
            accepted = [top[0]]  # exact sequential step
        accepted = accepted[: num_merges - len(merges)]
        col = F.col("__sym")
        for row in accepted:
            l, r, n = row["l"], row["r"], int(row["n"])
            merges.append((len(merges) + 1, l[1:], r[1:], n))
            col = F.replace(col, F.lit(f"{l} {r}"), F.lit(l + r[1:]))
        state = state.withColumn("__sym", col).localCheckpoint(eager=True)
    return spark.createDataFrame(
        merges, "rank long, merge_left string, merge_right string, n long"
    )


def bpe_encode_subword_counts(
    df,
    merges: list[tuple[str, str]],
    text_col: str = "text",
):
    """Apply a learned BPE merge list (in rank order) to the corpus and
    return subword frequencies ``(subword, n)`` — the inference side of
    :func:`bpe_merges` (and the quickest fertility/compression check:
    Σn is the encoded token count).

    Pure codegen pipeline: explode words → sentinel-symbol form → one
    chained plain ``replace`` per merge (same unambiguous-pattern trick
    as training — no regex, no UDFs) → split → explode → count. The
    merge chain is ``len(merges)`` nested string ops per word —
    constant per row, zero shuffles until the final count.
    """
    word = F.explode(tokens(text_col)).alias("__w")
    rep = F.array_join(
        F.transform(
            F.split(F.col("__w"), ""),
            lambda c: F.concat(F.lit(_BPE_SENT), c),
        ),
        " ",
    )
    for left, right in merges:
        l, r = _BPE_SENT + left, _BPE_SENT + right
        rep = F.replace(rep, F.lit(f"{l} {r}"), F.lit(l + right))
    return (
        df.select(word)
        .filter(F.col("__w") != "")
        .select(F.explode(F.split(rep, " ")).alias("__s"))
        .select(F.substring("__s", 2, 1_000_000).alias("subword"))
        .groupBy("subword")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def truncate_tokens(
    df,
    max_tokens: int,
    text_col: str = "text",
) -> "DataFrame":
    """Token-boundary truncation to a context budget: keep the first
    ``max_tokens`` whitespace tokens of each document — the standard
    pre-tokenizer guard that stops a single pathological document from
    blowing past the packer's sequence budget.

    Appends ``text_trunc`` (the truncated text, single-space re-joined —
    runs of whitespace are normalized, which downstream whitespace
    tokenization cannot observe), ``n_tokens_kept`` and
    ``was_truncated``. Original case is preserved (truncation is about
    LENGTH, not normalization — lowercase belongs to ``clean_text``).

    Scale: pure in-row array math (split → slice → join) at scan speed,
    zero shuffles; the filter/packing stages downstream see bounded
    costs.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    kept = F.slice(toks, 1, max_tokens)
    return (
        df.withColumn("text_trunc", F.array_join(kept, " "))
        .withColumn("n_tokens_kept", F.size(kept).cast("long"))
        .withColumn(
            "was_truncated", F.size(toks) > F.lit(max_tokens)
        )
    )


def corpus_card(
    df,
    group_cols: list[str] | None = None,
    text_col: str = "text",
    short_doc_tokens: int = 20,
    distinct_mode: str = "exact",
) -> "DataFrame":
    """Per-(source, lang) corpus data card — the one-scan summary a
    dataset release ships with: document and token counts, length
    profile, and an exact duplicate-rate proxy (distinct normalized
    MD5 text hashes vs docs; MD5 so the SAME hash is computable in
    plain SQL on any engine; normalization matches ``exact_dedup`` —
    lowercase, whitespace runs collapsed, trimmed — so the card's
    dup_rate is exactly the rate ``exact_dedup`` would remove).

    Columns: ``n_docs``, ``n_tokens``, ``avg_tokens`` (2dp half-up),
    ``pct_short`` (docs under ``short_doc_tokens``, 4dp half-up),
    ``n_distinct_texts``, ``dup_rate`` (1 − distinct/docs, 4dp
    half-up).

    Scale: one groupBy shuffle carrying (count, sum, short-count,
    distinct-hash) partials; the MD5 is computed scan-side. Exact
    distinct per group (the default, and what the oracle verifies)
    costs a hash set per group map-side; ``distinct_mode="approx"``
    swaps in a fixed-size HLL sketch (~2% error) — the right trade for
    billion-doc groups, where the exact set itself becomes the memory
    driver.
    """
    from kamu_engine_datafusion_spark.functions.columns import half_up

    group_cols = group_cols or ["source", "lang"]
    tc = token_count(text_col)
    h = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    )
    distinct_agg = (
        F.approx_count_distinct("__h")
        if distinct_mode == "approx"
        else F.countDistinct("__h")
    )
    g = (
        df.withColumn("__tc", tc)
        .withColumn("__h", h)
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__tc").alias("n_tokens"),
            F.sum(
                (F.col("__tc") < short_doc_tokens).cast("long")
            ).alias("__n_short"),
            distinct_agg.alias("n_distinct_texts"),
        )
    )
    return g.select(
        *group_cols,
        "n_docs",
        "n_tokens",
        half_up(F.col("n_tokens") / F.col("n_docs"), 2).alias("avg_tokens"),
        half_up(F.col("__n_short") / F.col("n_docs"), 4).alias("pct_short"),
        "n_distinct_texts",
        half_up(
            F.lit(1.0) - F.col("n_distinct_texts") / F.col("n_docs"), 4
        ).alias("dup_rate"),
    )


def tokenizer_fertility(
    df,
    group_cols: list[str] | None = None,
    text_col: str = "text",
) -> "DataFrame":
    """Per-group tokenizer fertility report — the standard multilingual
    tokenizer evaluation (how many subwords the tokenizer spends per
    word, and how many bytes each subword carries): ``n_docs``,
    ``n_words`` (whitespace tokens), ``n_subwords`` (the BPE-ish
    estimator), ``n_bytes`` (UTF-8 octets), ``fertility`` =
    subwords/words and ``bytes_per_subword`` = bytes/subwords, both
    half-up 4dp from exact integer sums (so the ratios are
    engine-portable — no float accumulation order in play). High
    fertility on a language flags an under-trained vocab for it; low
    bytes/subword on CJK flags byte-level fallback blowup.

    Scale: pure column math + one partial+final groupBy on the group
    key; everything rides the scan.
    """
    from kamu_engine_datafusion_spark.functions.columns import half_up

    group_cols = group_cols or ["lang"]
    g = (
        df.withColumn("__w", token_count(text_col))
        .withColumn("__s", bpe_ish_token_count(text_col))
        .withColumn("__b", F.octet_length(text_col).cast("long"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__w").alias("n_words"),
            F.sum("__s").alias("n_subwords"),
            F.sum("__b").alias("n_bytes"),
        )
    )
    return g.select(
        *group_cols,
        "n_docs",
        "n_words",
        "n_subwords",
        "n_bytes",
        half_up(F.col("n_subwords") / F.col("n_words"), 4).alias(
            "fertility"
        ),
        half_up(F.col("n_bytes") / F.col("n_subwords"), 4).alias(
            "bytes_per_subword"
        ),
    )


def vocab_coverage(df, text_col: str = "text", top_v: int = 1000):
    """Cumulative token-coverage curve of the top-``top_v`` vocabulary:
    tokens ranked by corpus frequency with each rank's CUMULATIVE share
    of all corpus tokens — the tokenizer-design curve ("how much of the
    corpus do the top N types cover", where the knee sets the vocab
    size). Columns: ``token, freq, rank, cum_share`` (half-up 6dp).

    Scale: wordcount shuffle → TakeOrderedAndProject for the top-v cut
    (the full vocabulary never passes through a global window) → the
    cumulative window runs over the bounded top-v rows only; the corpus
    token total is a scalar aggregate broadcast via crossJoin.
    """
    from pyspark.sql import Window

    from kamu_engine_datafusion_spark.functions.columns import half_up

    counts = (
        df.select(F.explode(tokens(text_col)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = counts.agg(F.sum("freq").alias("__total"))
    top = counts.orderBy(F.col("freq").desc(), "token").limit(top_v)
    w = Window.orderBy(F.col("freq").desc(), "token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.col("freq").cast("long").alias("freq"),
            F.row_number()
            .over(Window.orderBy(F.col("freq").desc(), "token"))
            .cast("long")
            .alias("rank"),
            half_up(
                F.sum("freq").over(w) / F.col("__total"), 6
            ).alias("cum_share"),
        )
    )


def _word_ngrams_from_tokens(t: Column, n: int) -> Column:
    """Space-joined word n-grams from an ALREADY-TOKENIZED array via
    zip_with over n slices (never transform + outer element_at —
    interpreted HOFs do no CSE, so an outer-array reference re-evaluates
    its expression per element: O(tokens²), measured 10×; SCALE.md r9).
    Take the token array as a materialized attribute when building
    several n simultaneously: CollapseProject will not inline a
    non-cheap alias referenced more than once (the r17 two-stage
    projection device), so the split runs once per row, not once per
    slice reference."""
    m = F.greatest(F.size(t) - F.lit(n - 1), F.lit(0))
    out = F.slice(t, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out,
            F.slice(t, i + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return out


def repetition_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    dp: int = 6,
) -> DataFrame:
    """Within-document REPETITION signals — the other half of the Gopher
    quality table (Rae et al. 2021, Table A1) that :func:`gopher_rules`
    (the length/symbol/bullet rules) does not cover. Repetitive
    documents (boilerplate, templated spam, scraper loops) pass
    length-based rules while being low-value; these are the standard
    signals that catch them. Per document:

    - ``dup_line_frac`` — 1 − distinct lines / lines;
    - ``dup_line_char_frac`` — characters on repeat occurrences of a
      line (occurrences beyond each line's first) / total line chars;
    - ``top_{n}gram_char_frac`` (n ∈ ``top_ns``) — chars covered by the
      single most frequent word n-gram, ``count·len(gram)`` /
      ``len(text)`` (ties → lexicographically smallest gram, so the
      choice is deterministic);
    - ``dup_{n}gram_char_frac`` (n ∈ ``dup_ns``) — chars on occurrences
      of REPEATED n-grams, ``Σ_{g: count≥2} count·len(g)`` /
      ``len(text)``, capped at 1.0 (overlapping occurrences counted in
      full — an upper-bound variant of the paper's position-marking
      form, chosen because it is exact integer math and
      SQL-replayable).

    All ratios half-up ``dp`` decimals. Documents with no lines/tokens
    report 0 for the affected signals (defined, not NULL).

    Scale shape (r17 single-pass restructure): the corpus is scanned
    and tokenized ONCE; every n's gram array is built from the one
    materialized token array and a single ``posexplode`` + ``explode``
    pair emits (doc, n-index, gram) rows for ALL n simultaneously. One
    two-level partial+final aggregate follows — (doc, n, gram) counts,
    then per-doc conditional aggregates (``min(when(n=…, struct))`` /
    ``sum(when(n=…, load))``) — so the whole report costs one scan, two
    exchanges keyed on the uniform doc id, and ONE join with the in-row
    line stats, versus one scan + two exchanges + one join PER n in the
    per-n formulation (measured at sf0.1: 24 Exchange / 48 split nodes
    → 2 Exchange / 2 split nodes for the registered 4-n report). Line
    stats are pure in-row column math at scan speed.
    """
    from kamu_engine_datafusion_spark.functions.columns import half_up

    ids = df.select(F.col(id_col), F.col(text_col))
    tlen = F.length(F.coalesce(F.col(text_col), F.lit("")))

    # ---- line stats: in-row, staged projections so the `\n` split and
    # array_distinct run once per row instead of once per reference
    # (alias inlining duplicated the split ~8× in the fused form;
    # CollapseProject keeps a non-cheap alias referenced >1× staged) ---
    n_lines = F.size(F.col("__lines"))
    n_dist = F.size(F.col("__dlines"))
    line_chars = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0).cast("long"), lambda a, l: a + F.length(l)
    )
    out = (
        ids.select(
            F.col(id_col),
            tlen.alias("__tlen"),
            F.split(
                F.coalesce(F.col(text_col), F.lit("")), r"\n"
            ).alias("__lines"),
        )
        .select(
            F.col(id_col),
            "__tlen",
            "__lines",
            F.array_distinct("__lines").alias("__dlines"),
        )
        .select(
            F.col(id_col),
            "__tlen",
            n_lines.alias("__nl"),
            n_dist.alias("__nd"),
            line_chars(F.col("__lines")).alias("__lchars"),
            # chars on repeat occurrences = total − chars of one copy
            # of each distinct line
            line_chars(F.col("__dlines")).alias("__dchars"),
        )
        .select(
            F.col(id_col),
            F.col("__tlen"),
            half_up(
                F.when(
                    F.col("__nl") > 0,
                    (F.col("__nl") - F.col("__nd")).cast("double")
                    / F.col("__nl"),
                ).otherwise(F.lit(0.0)),
                dp,
            ).alias("dup_line_frac"),
            half_up(
                F.when(
                    F.col("__lchars") > 0,
                    (F.col("__lchars") - F.col("__dchars")).cast("double")
                    / F.col("__lchars"),
                ).otherwise(F.lit(0.0)),
                dp,
            ).alias("dup_line_char_frac"),
        )
    )

    # ---- n-gram stats: ONE tokenize → ONE tagged explode for all n →
    # (doc, n, gram) counts → per-doc conditional aggregates ----------
    ns = sorted({*top_ns, *dup_ns})
    toks = ids.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    # posexplode the array-of-gram-arrays (one per n), then explode each
    # gram array: two Generate nodes over ONE materialized token array —
    # the n is recovered from the position, so no per-element struct
    # tagging is needed.
    ng = (
        toks.select(
            F.col(id_col),
            F.posexplode(
                F.array(
                    *[
                        _word_ngrams_from_tokens(F.col("__toks"), n)
                        for n in ns
                    ]
                )
            ).alias("__i", "__arr"),
        )
        .select(F.col(id_col), "__i", F.explode("__arr").alias("__g"))
    )
    cnt = ng.groupBy(id_col, "__i", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    aggs = []
    for n in sorted(top_ns):
        # deterministic argmax via min(struct(-count, gram, load)):
        # smallest -count = highest count, count ties break to the
        # lexicographically smallest gram — fully ordered, so the
        # reported char load never depends on aggregation order.
        # min() ignores rows of other n (when → NULL), exactly the
        # per-n grouping of the per-n formulation.
        aggs.append(
            F.min(
                F.when(
                    F.col("__i") == ns.index(n),
                    F.struct(
                        (-F.col("__c")).alias("__nc"),
                        F.col("__g").alias("__g2"),
                        (F.col("__c") * F.length("__g")).alias("__load"),
                    ),
                )
            ).alias(f"__top_{n}")
        )
    for n in sorted(dup_ns):
        # sum over this n's repeated grams; all-NULL (no repeats or no
        # grams of this n) yields NULL, coalesced to 0 below — the same
        # final value the per-n otherwise(0) produced.
        aggs.append(
            F.sum(
                F.when(
                    (F.col("__i") == ns.index(n)) & (F.col("__c") >= 2),
                    F.col("__c") * F.length("__g"),
                )
            )
            .cast("long")
            .alias(f"__dupload_{n}")
        )
    per_doc = cnt.groupBy(id_col).agg(*aggs)
    sel = [F.col(id_col)]
    for n in sorted(top_ns):
        sel.append(F.col(f"__top_{n}.__load").alias(f"__topload_{n}"))
    for n in sorted(dup_ns):
        sel.append(F.col(f"__dupload_{n}"))
    out = out.join(per_doc.select(*sel), id_col, "left")

    cols = [F.col(id_col), "dup_line_frac", "dup_line_char_frac"]
    for n in sorted(top_ns):
        cols.append(
            half_up(
                F.least(
                    F.coalesce(F.col(f"__topload_{n}"), F.lit(0)).cast(
                        "double"
                    )
                    / F.greatest(F.col("__tlen"), F.lit(1)),
                    F.lit(1.0),
                ),
                dp,
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in sorted(dup_ns):
        cols.append(
            half_up(
                F.least(
                    F.coalesce(F.col(f"__dupload_{n}"), F.lit(0)).cast(
                        "double"
                    )
                    / F.greatest(F.col("__tlen"), F.lit(1)),
                    F.lit(1.0),
                ),
                dp,
            ).alias(f"dup_{n}gram_char_frac")
        )
    return out.select(*cols)


def source_token_tvd(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_v: int = 1000,
    dp: int = 6,
) -> DataFrame:
    """Pairwise token-DISTRIBUTION divergence between sources: total
    variation distance over each source's relative token frequencies,
    restricted to the corpus top-``top_v`` vocabulary. The
    distributional companion of ``dedup.cross_source_overlap`` (which
    measures shared CONTENT): two sources can share zero documents yet
    have near-identical token distributions (same template/genre), or
    share a few documents while writing in different registers — the
    mixture-design and domain-weighting signal (DoReMi-style) looks at
    this matrix, not at content overlap.

    TVD is chosen over KL/JSD deliberately: ``0.5·Σ_t |c_t/T_a −
    d_t/T_b| = Σ_t |c_t·T_b − d_t·T_a| / (2·T_a·T_b)`` is EXACT integer
    arithmetic until one final division (libm ``ln`` is not
    bit-reproducible across engines, the reason DSIR snaps its log
    ratios driver-side). Tokens absent from a source contribute their
    full mass — handled via a full outer join over the (bounded)
    per-source count frame. Output: ``(src_a, src_b, n_tokens_a,
    n_tokens_b, tvd)`` for every ``src_a < src_b`` pair, ``tvd``
    half-up ``dp`` decimals in [0, 1].

    Scale: ONE corpus explode into a (source, token) partial+final
    count aggregate; everything after runs on the bounded ``≤ top_v ·
    #sources``-row count frame (vocab is TakeOrdered + broadcast), so
    the pairwise join is metadata-sized — the corpus is scanned once.
    """
    from kamu_engine_datafusion_spark.functions.columns import half_up

    vocab = vocabulary(df, text_col, top_v).select("token")
    tok = df.select(
        F.col(group_col).alias("__src"),
        F.explode(tokens(text_col)).alias("token"),
    ).join(F.broadcast(vocab), "token")
    counts = tok.groupBy("__src", "token").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    totals = counts.groupBy("__src").agg(
        F.sum("__c").cast("long").alias("__t")
    )
    a = (
        counts.join(totals, "__src")
        .select(
            F.col("__src").alias("src_a"),
            "token",
            F.col("__c").alias("__ca"),
            F.col("__t").alias("__ta"),
        )
    )
    b = (
        counts.join(totals, "__src")
        .select(
            F.col("__src").alias("src_b"),
            "token",
            F.col("__c").alias("__cb"),
            F.col("__t").alias("__tb"),
        )
    )
    # all source pairs (src_a < src_b) × full outer union of their
    # token supports: join on token, keep one row per (pair, token)
    pairs = totals.alias("x").join(
        totals.alias("y"),
        F.col("x.__src") < F.col("y.__src"),
    ).select(
        F.col("x.__src").alias("src_a"),
        F.col("x.__t").alias("__ta"),
        F.col("y.__src").alias("src_b"),
        F.col("y.__t").alias("__tb"),
    )
    # union each pair's two count legs keyed by token (a token absent
    # from one side contributes a zero row — the full-outer semantics
    # without a null-handling join), then one |ca·Tb − cb·Ta| sum per
    # pair
    la = pairs.join(a.drop("__ta"), "src_a").select(
        "src_a", "src_b", "__ta", "__tb", "token",
        F.col("__ca").alias("__c_a"), F.lit(0).cast("long").alias("__c_b"),
    )
    lb = pairs.join(b.drop("__tb"), "src_b").select(
        "src_a", "src_b", "__ta", "__tb", "token",
        F.lit(0).cast("long").alias("__c_a"), F.col("__cb").alias("__c_b"),
    )
    per_tok = (
        la.unionByName(lb)
        .groupBy("src_a", "src_b", "__ta", "__tb", "token")
        .agg(
            F.sum("__c_a").cast("long").alias("ca"),
            F.sum("__c_b").cast("long").alias("cb"),
        )
    )
    num = F.abs(
        F.col("ca") * F.col("__tb") - F.col("cb") * F.col("__ta")
    )
    agg = per_tok.groupBy("src_a", "src_b", "__ta", "__tb").agg(
        F.sum(num).cast("long").alias("__num")
    )
    return agg.select(
        "src_a",
        "src_b",
        F.col("__ta").alias("n_tokens_a"),
        F.col("__tb").alias("n_tokens_b"),
        half_up(
            F.col("__num").cast("double")
            / (
                F.lit(2.0)
                * F.col("__ta").cast("double")
                * F.col("__tb").cast("double")
            ),
            dp,
        ).alias("tvd"),
    )


def lm_ngram_counts(
    reference: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The Stupid-Backoff reference model as ONE unified ADDITIVE
    frame: ``(n, w1, w2, w3, c)`` — unigram/bigram/trigram counts with
    ``''`` sentinels in unused slots. The sentinel is safe because the
    ``n`` column discriminates levels, NOT because empty tokens are
    impossible: an empty/whitespace-only doc tokenizes to ``['']``, so
    its ``w1 = ''`` unigram row shares the sentinel VALUE — but it
    carries ``n = 1`` while sentinel slots only appear in ``w2``/``w3``
    of lower-order rows, and the batch twin
    (:func:`stupid_backoff_score`) counts the same ``''`` unigram, so
    the two stay bit-equal. Counts are additive, so this
    is the per-tick INCREMENT of ``streaming.maintained_lm_counts``
    (cross-tick fold = cell-wise BIGINT addition) and the input of
    :func:`backoff_score_from_counts`; ``N``/``V`` for the OOV floor
    derive from the ``n = 1`` rows, so no extra state is needed.

    Scale: three partial-aggregated count tables (vocab-/bigram-/
    trigram-sized, never corpus-sized) unioned; one exchange each."""
    t = reference.select(tokens(text_col).alias("__tok"))
    sz = F.size("__tok")

    def grams(n):
        arr = F.when(
            sz >= n,
            F.arrays_zip(
                *[F.slice("__tok", i + 1, sz - (n - 1)) for i in range(n)]
            ),
        ).otherwise(F.array())
        cols = [
            F.col("__g").getField(str(i)).alias(f"w{i+1}")
            for i in range(n)
        ] + [F.lit("").alias(f"w{i+1}") for i in range(n, 3)]
        return (
            t.select(F.explode(arr).alias("__g"))
            .select(*cols)
            .groupBy("w1", "w2", "w3")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .select(F.lit(n).cast("int").alias("n"), "w1", "w2", "w3", "c")
        )

    return grams(1).unionByName(grams(2)).unionByName(grams(3))


def backoff_score_from_counts(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha_num: int = 4,
    alpha_den: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Stupid-Backoff scoring against PRE-AGGREGATED n-gram counts
    (:func:`lm_ngram_counts` output or
    ``streaming.maintained_lm_counts`` state) — the incremental form
    of :func:`stupid_backoff_score`: at 100 TB the batch operator
    re-tokenizes the whole REFERENCE corpus per scoring run, while
    the maintained counts fold forward and scoring a new tick
    tokenizes only the tick. Output is identical to the batch
    operator over the same populations bit-for-bit (exact integer
    count folds, the same backoff CASE, the same half-up — pytest-
    pinned, OOV branch included). The batch operator's code path is
    deliberately untouched (its `xlm_backoff` driver hash stays
    certified); the two are pinned equal by test instead of refactor,
    the `centroid_stats` discipline."""
    from kamu_engine_datafusion_spark.functions.columns import half_up

    uni = counts.filter(F.col("n") == 1).select(
        "w1", F.col("c").alias("c1")
    )
    big = counts.filter(F.col("n") == 2).select(
        "w1", "w2", F.col("c").alias("c2")
    )
    tri = counts.filter(F.col("n") == 3).select(
        "w1", "w2", "w3", F.col("c").alias("c3")
    )
    nv = uni.agg(
        F.sum("c1").cast("long").alias("N"),
        F.count(F.lit(1)).cast("long").alias("V"),
    )
    t = df.select(
        F.col(id_col).alias("__id"), tokens(text_col).alias("__tok")
    )
    sz = F.size("__tok")
    arr = F.when(
        sz >= 3,
        F.arrays_zip(*[F.slice("__tok", i + 1, sz - 2) for i in range(3)]),
    ).otherwise(F.array())
    pos = t.select("__id", F.explode(arr).alias("__g")).select(
        "__id",
        *[F.col("__g").getField(str(i)).alias(f"w{i+1}") for i in range(3)],
    )
    alpha = float(alpha_num) / float(alpha_den)
    scored = (
        pos.join(tri, ["w1", "w2", "w3"], "left")
        .join(
            big.select(F.col("w1"), F.col("w2"), F.col("c2").alias("c12")),
            ["w1", "w2"],
            "left",
        )
        .join(
            big.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("c2").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w2"), F.col("c1").alias("cw2")),
            ["w2"],
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w3"), F.col("c1").alias("cw3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "__id",
            F.when(
                F.coalesce(F.col("c3"), F.lit(0)) > 0,
                F.log(F.col("c3").cast("double") / F.col("c12")),
            )
            .when(
                F.coalesce(F.col("c23"), F.lit(0)) > 0,
                F.log(
                    F.lit(alpha) * F.col("c23").cast("double")
                    / F.col("cw2")
                ),
            )
            .otherwise(
                F.log(
                    F.lit(alpha * alpha)
                    * (F.coalesce(F.col("cw3"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("N") + F.col("V"))
                )
            )
            .alias("__ls"),
        )
    )
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        half_up(F.sum("__ls") / F.count(F.lit(1)), dp).alias(
            "avg_logscore"
        ),
    )
    return df.select(F.col(id_col)).join(
        per_doc, df[id_col] == per_doc["__id"], "left"
    ).select(
        F.col(id_col),
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        "avg_logscore",
    )


def stupid_backoff_score(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha_num: int = 4,
    alpha_den: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Per-document average trigram STUPID BACKOFF log-score against a
    REFERENCE corpus — the counts-only LM scoring scheme built for the
    web-corpus regime (Brants et al. 2007, "Large Language Models in
    Machine Translation"): no discounting, no normalization constants,
    just relative frequencies with a fixed backoff penalty —

        S(w3 | w1 w2) = c(w1w2w3)/c(w1w2)            if c(w1w2w3) > 0
                      = α · c(w2w3)/c(w2)            elif c(w2w3) > 0
                      = α² · (c(w3)+1)/(N+V)         otherwise

    with ``α = alpha_num/alpha_den`` (0.4 in the paper) and counts from
    ``reference`` (e.g. the curated/target-domain slice — the CCNet
    perplexity-filter shape: score crawl text by how target-like it
    reads). The last line add-one-floors the unigram so OOV words get a
    finite score instead of ``ln 0`` (documented extension; Brants
    leaves unseen unigrams undefined). ``reference=None`` scores the
    corpus against itself — then every trigram is attested and only the
    first branch fires (useful as a boilerplate/repetition signal, not
    a novelty one).

    Returns ``(id, n_trigrams, avg_logscore)`` — ``avg_logscore`` null
    for docs with < 3 tokens, half-up ``dp``. The backoff CASE compares
    exact BIGINT counts; the only float math is the final ``ln`` and
    the average.

    Scale: the three reference count tables partial-aggregate before
    their exchanges (vocab-/bigram-/trigram-sized, never corpus-sized);
    the scored position stream joins them on uniformly-hashed Zipf
    keys; position extraction is in-row slice+zip — no window, no
    self-join.
    """
    from kamu_engine_datafusion_spark.functions.columns import half_up

    ref = reference if reference is not None else df

    def _toked(frame):
        return frame.select(tokens(text_col).alias("__tok"))

    def _ngrams(frame, n, keep_id=False):
        t = (
            frame.select(
                F.col(id_col).alias("__id"), tokens(text_col).alias("__tok")
            )
            if keep_id
            else frame.select(tokens(text_col).alias("__tok"))
        )
        sz = F.size("__tok")
        arr = F.when(
            sz >= n,
            F.arrays_zip(
                *[F.slice("__tok", i + 1, sz - (n - 1)) for i in range(n)]
            ),
        ).otherwise(F.array())
        cols = [F.col("__g").getField(str(i)).alias(f"w{i+1}") for i in range(n)]
        base = t.select(
            *(["__id"] if keep_id else []), F.explode(arr).alias("__g")
        )
        return base.select(*(["__id"] if keep_id else []), *cols)

    uni = _ngrams(ref, 1).groupBy("w1").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    big = _ngrams(ref, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    tri = _ngrams(ref, 3).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).cast("long").alias("c3")
    )
    nv = uni.agg(
        F.sum("c1").cast("long").alias("N"),
        F.count(F.lit(1)).cast("long").alias("V"),
    )
    pos = _ngrams(df, 3, keep_id=True)
    alpha = float(alpha_num) / float(alpha_den)
    scored = (
        pos.join(tri, ["w1", "w2", "w3"], "left")
        .join(
            big.select(
                F.col("w1"), F.col("w2"), F.col("c2").alias("c12")
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            big.select(
                F.col("w1").alias("w2"), F.col("w2").alias("w3"),
                F.col("c2").alias("c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w2"), F.col("c1").alias("cw2")),
            ["w2"],
            "left",
        )
        .join(
            uni.select(F.col("w1").alias("w3"), F.col("c1").alias("cw3")),
            ["w3"],
            "left",
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "__id",
            F.when(
                F.coalesce(F.col("c3"), F.lit(0)) > 0,
                F.log(F.col("c3").cast("double") / F.col("c12")),
            )
            .when(
                F.coalesce(F.col("c23"), F.lit(0)) > 0,
                F.log(
                    F.lit(alpha) * F.col("c23").cast("double")
                    / F.col("cw2")
                ),
            )
            .otherwise(
                F.log(
                    F.lit(alpha * alpha)
                    * (F.coalesce(F.col("cw3"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    / (F.col("N") + F.col("V"))
                )
            )
            .alias("__ls"),
        )
    )
    per_doc = scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        half_up(F.sum("__ls") / F.count(F.lit(1)), dp).alias(
            "avg_logscore"
        ),
    )
    return df.select(F.col(id_col)).join(
        per_doc, df[id_col] == per_doc["__id"], "left"
    ).select(
        F.col(id_col),
        F.coalesce("n_trigrams", F.lit(0)).cast("long").alias("n_trigrams"),
        "avg_logscore",
    )


def distinctive_tokens(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 10,
    alpha_num: int = 1,
    alpha_den: int = 100,
    dp: int = 6,
) -> DataFrame:
    """Per-group DISTINCTIVE tokens by Dirichlet-smoothed log-odds
    against the rest of the corpus (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words") — the data-card companion of
    :func:`source_token_tvd`: TVD says *how far* a source's token
    distribution sits from another's; this says *which words* make a
    source what it is, with the variance-standardized z-score that
    keeps rare-word noise from dominating (the failure mode of plain
    log-odds/PMI lists).

    For token ``w`` in group ``i`` vs the rest ``j``:
    ``δ_w = ln((y_iw+αf_w)/(n_i+α−y_iw−αf_w)) − ln((y_jw+αf_w)/(n_j+α−y_jw−αf_w))``
    with the informative Dirichlet prior ``αf_w`` proportional to the
    corpus-wide frequency (``α = alpha_num/alpha_den · N`` total prior
    mass), standardized by ``σ² ≈ 1/(y_iw+αf_w) + 1/(y_jw+αf_w)``.
    Counts are exact BIGINT; ln/divisions are the xlm_score float
    class. Output: ``(group, token, n_in, n_rest, zeta)`` — the
    ``top_k`` tokens per group by (ζ desc, token asc), half-up ``dp``.

    Scale: one corpus explode into a (group, token) partial+final
    count; corpus totals derive from the SAME frame; everything after
    runs on vocab×groups-sized metadata. The per-group top-k rank
    filter gets Catalyst's map-side WindowGroupLimit (the r9
    measurement) — no group ships more than k rows per partition.
    """
    from pyspark.sql import Window

    from kamu_engine_datafusion_spark.functions.columns import half_up

    tok = df.select(
        F.col(group_col).alias("grp"),
        F.explode(tokens(text_col)).alias("token"),
    )
    cnt = tok.groupBy("grp", "token").agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    corpus = cnt.groupBy("token").agg(
        F.sum("y").cast("long").alias("y_all")
    )
    tot = cnt.groupBy("grp").agg(F.sum("y").cast("long").alias("n"))
    n_all = cnt.agg(F.sum("y").cast("long").alias("N")).first()["N"]
    if n_all is None or n_all == 0:
        # empty input (or all-NULL text): sum() is NULL — return the
        # empty result with the output schema instead of a TypeError.
        # grp keeps the input group column's type (schema-driven, the
        # group_centroid_shift discipline).
        import pyspark.sql.types as T

        return df.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(
                        "grp", df.schema[group_col].dataType, True
                    ),
                    T.StructField("token", T.StringType(), True),
                    T.StructField("n_in", T.LongType(), True),
                    T.StructField("n_rest", T.LongType(), True),
                    T.StructField("zeta", T.DoubleType(), True),
                ]
            ),
        )
    alpha0 = float(alpha_num) / float(alpha_den) * float(n_all)
    # one row per (group, token in corpus vocab): tokens absent from a
    # group still score (their y_iw = 0 side) — right join on the vocab
    grid = (
        tot.crossJoin(F.broadcast(corpus))
        .join(cnt, ["grp", "token"], "left")
        .select(
            "grp",
            "token",
            F.coalesce("y", F.lit(0)).cast("long").alias("y_in"),
            "y_all",
            "n",
        )
    )
    prior = F.lit(alpha0) * F.col("y_all") / F.lit(float(n_all))
    y_i = F.col("y_in") + prior
    d_i = F.col("n") + F.lit(alpha0) - y_i
    y_j = (F.col("y_all") - F.col("y_in")) + prior
    d_j = (F.lit(float(n_all)) - F.col("n")) + F.lit(alpha0) - y_j
    delta = F.log(y_i / d_i) - F.log(y_j / d_j)
    zeta = delta / F.sqrt(1.0 / y_i + 1.0 / y_j)
    scored = grid.select(
        "grp",
        "token",
        F.col("y_in").alias("n_in"),
        (F.col("y_all") - F.col("y_in")).cast("long").alias("n_rest"),
        half_up(zeta, dp).alias("zeta"),
    )
    w = Window.partitionBy("grp").orderBy(F.desc("zeta"), "token")
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .drop("__rn")
    )


def pair_counts(df, text_col: str = "text", window: int = 1) -> "DataFrame":
    """The co-occurrence count frame ``(w1, w2, c)`` as an ADDITIVE
    increment — the per-tick function of
    ``streaming.maintained_pair_counts`` and the pair half of the
    maintained-collocation story (:func:`term_counts` keeps the
    unigram half): counts fold cell-wise, so state after any ticks
    equals the batch pair counts of the whole ledger and
    :func:`collocations_from_counts` reads the PMI ranking from
    state instead of re-pairing 100 TB of text. Pairs are
    :func:`skipgram_pairs`' in-row stream (gap ≤ ``window``); state is
    bounded by the OBSERVED vocabulary² (Zipf — far below the bound),
    with map-side partials capping each exchange."""
    return (
        skipgram_pairs(
            df.select(tokens(text_col).alias("__tok")), window
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def collocations_from_counts(
    pairs, unis, min_count: int = 5, top_k: int = 100
) -> "DataFrame":
    """Top-k PMI collocations read from MAINTAINED count frames ALONE
    (:func:`pair_counts` + :func:`term_counts` state) — identical
    output to :func:`collocations` over the corpus the counts
    summarize (same N/B totals, the same float expression tree, the
    same (pmi desc, w1, w2) cut; pytest-pinned row-for-row; the batch
    path stays byte-identical — the ``centroid_stats`` discipline).
    At 100 TB the batch operator re-explodes and re-pairs the corpus
    per report; this reads two vocab-bounded count frames."""
    totals = unis.agg(F.sum("freq").cast("double").alias("N"))
    b_total = pairs.agg(F.sum("c").cast("double").alias("B"))
    bg = pairs.filter(F.col("c") >= min_count).select(
        "w1", "w2", F.col("c").alias("n_pair")
    )
    uni = unis.select(F.col("token").alias("w"), F.col("freq").alias("c"))
    scored = (
        bg.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(b_total))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.log(
                (F.col("n_pair") / F.col("B"))
                / ((F.col("c1") / F.col("N")) * (F.col("c2") / F.col("N")))
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(top_k)


def ppmi_from_counts(
    pairs,
    unis,
    shift_k: int = 2,
    min_count: int = 5,
    top_k: int = 100,
    dp: int = 6,
) -> "DataFrame":
    """Top-k SHIFTED POSITIVE PMI collocations read from maintained
    count frames alone (r17 staging: "shifted-PPMI at window>1") —
    the word-embedding-factorization statistic (Levy & Goldberg 2014:
    SGNS implicitly factorizes the ``PMI − ln k`` matrix):
    ``sppmi = max(0, ln((c12/B)/((c1/N)(c2/N))) − ln shift_k)``,
    half-up ``dp``; rows below ``min_count`` pairs pruned; order
    ``(sppmi desc, w1, w2)``.

    Built for the ``pair_counts(window=k)`` skip-gram frame (gap ≤ k
    co-occurrence — the word2vec context statistic), while
    :func:`collocations_from_counts` stays the window=1 Church&Hanks
    reader with no shift. Same maintained-state story: both count
    frames fold cell-wise across ticks (``maintained_pair_counts`` /
    ``maintained_term_counts``), so at 100 TB the SPPMI matrix reads
    two vocab-bounded frames instead of re-pairing the corpus.

    Scale: totals are two one-row aggregates broadcast onto the
    pruned pair frame; two vocab-sized joins; one bounded top-k."""
    from kamu_engine_datafusion_spark.functions.columns import half_up

    totals = unis.agg(F.sum("freq").cast("double").alias("N"))
    b_total = pairs.agg(F.sum("c").cast("double").alias("B"))
    bg = pairs.filter(F.col("c") >= min_count).select(
        "w1", "w2", F.col("c").alias("n_pair")
    )
    uni = unis.select(F.col("token").alias("w"), F.col("freq").alias("c"))
    scored = (
        bg.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(b_total))
        .select(
            "w1",
            "w2",
            F.col("n_pair").cast("long").alias("n_pair"),
            half_up(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        (F.col("n_pair") / F.col("B"))
                        / (
                            (F.col("c1") / F.col("N"))
                            * (F.col("c2") / F.col("N"))
                        )
                    )
                    - F.log(F.lit(float(shift_k))),
                ),
                dp,
            ).alias("sppmi"),
        )
    )
    return scored.orderBy(F.col("sppmi").desc(), "w1", "w2").limit(top_k)

def sppmi_drift_summary(
    ref_top,
    cur_top,
    tick: int,
    jaccard_alarm: float = 0.5,
    dp: int = 4,
) -> "DataFrame":
    """One COLLOCATION-SHIFT alarm row for a tick (r17 staging: "PPMI
    drift" — the ``xks_drift_log`` shape over the SPPMI matrix): the
    tick's top-k SPPMI read (:func:`ppmi_from_counts` over the tick's
    own counts) diffs against the ACCUMULATED reference's — pairs are
    set-compared, common pairs score ``max |Δsppmi|`` — emitting
    ``(tick, n_ref, n_cur, n_common, n_new, n_dropped,
    overlap_jaccard, max_abs_delta, alarmed)`` with
    ``overlap_jaccard`` half-up ``dp``, ``max_abs_delta`` half-up 6dp
    over the 6dp-rounded sppmi inputs (NULL when no pair is common),
    and ``alarmed = overlap_jaccard < jaccard_alarm`` — a tick whose
    collocation structure departs from the corpus-to-date is a feed
    shift (new domain, new template, new language) caught at ingest.

    Scale: both inputs are top-k frames (≤ k rows — metadata); the
    full-outer join and the one-row aggregate are trivially bounded.
    The maintained loop folds the tick's counts into the reference
    AFTER the diff, so history is never re-paired."""
    from kamu_engine_datafusion_spark.functions.columns import half_up

    r = ref_top.select("w1", "w2", F.col("sppmi").alias("__s_ref"))
    c = cur_top.select("w1", "w2", F.col("sppmi").alias("__s_cur"))
    j = r.join(c, ["w1", "w2"], "full")
    agg = j.agg(
        F.count("__s_ref").cast("long").alias("n_ref"),
        F.count("__s_cur").cast("long").alias("n_cur"),
        F.sum(
            (
                F.col("__s_ref").isNotNull()
                & F.col("__s_cur").isNotNull()
            ).cast("long")
        )
        .cast("long")
        .alias("n_common"),
        F.max(
            F.when(
                F.col("__s_ref").isNotNull()
                & F.col("__s_cur").isNotNull(),
                half_up(
                    F.abs(F.col("__s_cur") - F.col("__s_ref")), 6
                ),
            )
        ).alias("max_abs_delta"),
    )
    jac = half_up(
        F.col("n_common")
        / (F.col("n_ref") + F.col("n_cur") - F.col("n_common")),
        dp,
    )
    return agg.select(
        F.lit(tick).cast("long").alias("tick"),
        "n_ref",
        "n_cur",
        "n_common",
        (F.col("n_cur") - F.col("n_common")).cast("long").alias("n_new"),
        (F.col("n_ref") - F.col("n_common"))
        .cast("long")
        .alias("n_dropped"),
        jac.alias("overlap_jaccard"),
        "max_abs_delta",
        (jac < F.lit(float(jaccard_alarm))).alias("alarmed"),
    )
