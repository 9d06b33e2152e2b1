"""Text-analysis operators for large-scale training-data pipelines:
token statistics, quality scoring, language-ID heuristic, document
fingerprinting.

All pure Catalyst expressions (split + higher-order functions + md5) —
no Python in the hot path, so each operator is a single distributed scan
projection that runs at full codegen speed on 100 TB of documents. Every
operator has an exactly-equivalent DuckDB oracle (registry) because both
engines implement identical md5/split/HOF semantics.

Tokenization contract used throughout: ``tokens = split(text, ' ')``
(documents are single-space word streams; empty tokens from repeated
spaces count as zero-length tokens in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.operators.core import balance_scan, materialize

# Stopword profiles for the language-ID heuristic. Order matters for the
# deterministic argmax tie-break (en > fr > de > es).
LANG_PROFILES: list[tuple[str, tuple[str, ...]]] = [
    ("en", ("the", "a", "and", "of", "is")),
    ("fr", ("le", "la", "et", "de", "est")),
    ("de", ("der", "die", "und", "das", "ist")),
    ("es", ("el", "los", "y", "que", "es")),
]

EN_STOPWORDS = LANG_PROFILES[0][1]


def _tokens(text: Column) -> Column:
    return F.split(text, " ")


def token_stats(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Per-document token counts: total, distinct, average token length.

    avg_token_len is computed as len(text minus spaces)/n_tokens — exact
    under the split contract and cheaper than summing per-token lengths.
    """
    toks = _tokens(text)
    n = F.size(toks)
    return df.select(
        id_col.alias("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.round(
            F.length(F.replace(text, F.lit(" "), F.lit(""))) / n, 6
        ).alias("avg_token_len"),
    )


def unigram_lm_score(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Per-document mean unigram log-likelihood under the corpus's own
    unigram distribution: score = avg over tokens of ln(count(tok)/N).

    The perplexity-style quality signal real pipelines compute with a
    KenLM model — here the LM is the corpus itself (two aggregations),
    so the operator is self-contained and oracle-replayable. Docs full
    of rare tokens score low (negative, large magnitude); boilerplate
    scores high.

    Distributed shape: token-frequency table (one partial-agg shuffle on
    the token — vocab-sized, tiny), broadcast-joined onto the exploded
    corpus, then one doc-keyed mean. The explode never shuffles: the
    frequency table is the ONLY aggregated side, so at 100 TB the cost
    is two scans + a vocab broadcast, not a corpus-wide repartition.
    N (total tokens) rides along as a broadcast one-row cross join."""
    toks = df.select(id_col.alias("doc_id"), F.explode(_tokens(text)).alias("tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_n"))
    # N derives from the vocab table (sum of counts) — no third corpus scan
    total = freq.agg(F.sum("tok_n").alias("corpus_n"))
    scored = (
        toks.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("tok_n") / F.col("corpus_n")).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.avg("lp"), 6).alias("lm_score"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


def quality_score(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Heuristic document quality: length score, stopword ratio,
    punctuation ratio, combined 0-1 score.

    quality = 0.5*min(1, n_tokens/100) + 0.3*(1-stopword_ratio)
            + 0.2*(1-punct_ratio)
    """
    toks = _tokens(text)
    n = F.size(toks)
    stop_cnt = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    stop_ratio = stop_cnt / n
    punct_cnt = F.length(text) - F.length(
        F.regexp_replace(text, "[^a-z ]", "")
    )
    punct_ratio = punct_cnt / F.length(text)
    len_score = F.least(F.lit(1.0), n / F.lit(100.0))
    return df.select(
        id_col.alias("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(
            0.5 * len_score + 0.3 * (1 - stop_ratio) + 0.2 * (1 - punct_ratio), 6
        ).alias("quality"),
    )


def lang_id(df: DataFrame, text: Column, id_col: Column, actual_lang: Column) -> DataFrame:
    """Stopword-profile language ID: count profile hits per language,
    predict the argmax (deterministic tie-break in LANG_PROFILES order,
    'unknown' when no profile hits). Returns per-doc rows so downstream
    confusion matrices are a groupBy away."""
    toks = _tokens(text)

    def _counter(words: tuple[str, ...]):
        # closure factory, NOT a default-arg lambda: PySpark would read a
        # second (default) parameter as the optional index argument
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    counts = {lang: _counter(words) for lang, words in LANG_PROFILES}
    best = F.greatest(*counts.values())
    pred = F.when(best == 0, F.lit("unknown"))
    for lang, _ in LANG_PROFILES:
        pred = pred.when(counts[lang] == best, F.lit(lang))
    return df.select(
        id_col.alias("doc_id"),
        actual_lang.alias("lang"),
        pred.otherwise(F.lit("unknown")).alias("predicted_lang"),
    )


def fingerprint(df: DataFrame, text: Column, id_col: Column, k: int = 5) -> DataFrame:
    """Rolling-hash document fingerprint: min(md5) over token k-gram
    shingles — a 1-permutation MinHash, stable under content shifts that
    plain text-hash fingerprints break on. Short docs fall back to
    md5(text).

    The md5-per-shingle kernel is the entire cost (one digest per token
    k-gram, zero shuffles), so on a single-split scan it would run in
    ONE task — the slim (doc_id, text) projection is balance_scan'd
    first (r9; conditional round-robin, a structural no-op on
    multi-split inputs — guide §2.6, project-first per §2.3)."""
    base = balance_scan(
        df.select(id_col.alias("doc_id"), text.alias("_fp_text"))
    )
    t = F.col("_fp_text")
    toks = _tokens(t)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ")),
    )
    fp = F.when(n >= k, F.array_min(grams)).otherwise(F.md5(t))
    n_shingles = F.when(n >= k, n - (k - 1)).otherwise(F.lit(0))
    return base.select(
        "doc_id",
        fp.alias("fp"),
        n_shingles.cast("long").alias("n_shingles"),
    )


def repetition_ratio(df: DataFrame, text: Column, id_col: Column, k: int = 3) -> DataFrame:
    """Within-document repetition: fraction of token k-grams that are
    duplicates of an earlier k-gram in the same document — the
    Gopher-style repetition filter that catches boilerplate/looping text
    exact and near dedup both miss (the repeats are *inside* one doc).

    dup_ratio = (n_grams - n_distinct_grams) / n_grams. Docs shorter than
    k tokens have one whole-text gram (ratio 0), mirroring the shingle
    contract. Pure HOF projection — runs inside the scan stage."""
    toks = _tokens(text)
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    grams = F.when(n >= k, grams).otherwise(F.array(text))
    total = F.size(grams)
    n_dup = total - F.size(F.array_distinct(grams))
    return df.select(
        id_col.alias("doc_id"),
        total.cast("long").alias("n_grams"),
        n_dup.cast("long").alias("n_dup"),
        F.round(n_dup / total, 6).alias("dup_ratio"),
    )


# PII patterns shared verbatim with the DuckDB oracle: no lookarounds or
# backreferences, so they mean the same thing under Java regex (Spark,
# executors) and RE2 (DuckDB). Redaction CASCADES email -> IP -> phone:
# each stage counts/replaces on the previous stage's output, so an IP's
# digits can never double-count as a phone.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"[+(]?\d[\d() -]{6,}\d"


def pii_scrub(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone-shaped digit runs from a
    text column, keeping per-category match counts. One codegen'd
    projection — no UDF, no shuffle; at 100 TB this runs entirely inside
    the scan stage and columns not referenced are never read."""
    after_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IP_RE, "<IP>")
    clean = F.regexp_replace(after_ip, PII_PHONE_RE, "<PHONE>")
    return df.select(
        id_col.alias("doc_id"),
        clean.alias("clean"),
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(PII_IP_RE), 0)).alias("n_ips"),
        F.size(F.regexp_extract_all(after_ip, F.lit(PII_PHONE_RE), 0)).alias(
            "n_phones"
        ),
    )


def bm25_scores(
    df: DataFrame,
    text: Column,
    id_col: Column,
    query_terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
) -> DataFrame:
    """Okapi BM25 retrieval scores for a literal query-term set, top-k
    documents. The lexical half of a hybrid RAG retriever (the vector
    half is ``similarity.cosine_topk``).

    score(d) = Σ_t idf(t) · tf / (tf + k1·(1 − b + b·|d|/avgdl))
    with the Lucene idf variant idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)).
    The constant (k1+1) numerator factor of classic Okapi is omitted (the
    ATIRE/Lucene-trec variant): it scales every term of every document by
    the same 2.2, so rankings are identical — and dropping it keeps every
    constant in the formula (0.5, 0.75, 1.2) bit-identical between the
    Spark plan and the DuckDB oracle.

    Shape for 100 TB: per-term tf is an in-scan HOF count (the query-term
    list is a literal, so there is NO explode and NO per-term shuffle);
    the corpus stats (N, avgdl, per-term df) reduce to ONE broadcast row;
    the final top-k is TakeOrderedAndProject. Net: one scan + one scalar
    aggregate + one broadcast join — no wide shuffle anywhere.
    """
    toks = _tokens(text)

    def _tf(term: str) -> Column:
        # factory (not a loop lambda): F.filter's optional second lambda
        # arg is the element INDEX, so a default-arg closure would be
        # silently fed the index instead of the term
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    per_doc = df.select(
        id_col.alias("doc_id"),
        F.size(toks).cast("long").alias("doc_len"),
        *[
            _tf(t).cast("long").alias(f"_tf{i}")
            for i, t in enumerate(query_terms)
        ],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg("doc_len").alias("_avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        idf = F.log(
            F.lit(1.0)
            + (F.col("_n") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
        )
        tf = F.col(f"_tf{i}").cast("double")
        norm = tf + k1 * (1.0 - b + b * F.col("doc_len") / F.col("_avgdl"))
        score = score + idf * tf / norm
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .select("doc_id", "doc_len", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def boilerplate_fraction(
    df: "DataFrame", text: "Column", id_col: "Column", k: int = 3
) -> "DataFrame":
    """Per-document boilerplate fraction: the share of a doc's distinct
    k-gram shingles that also appear in at least one OTHER document.
    High fraction → the doc is mostly corpus-common phrasing (template/
    boilerplate); low → novel content. The corpus-wide complement of
    t09's within-doc repetition ratio.

    Shape: one shingle explode (the dedup family's mapInPandas shingle
    kernel), one document-frequency aggregation on the 8-byte shingle
    key, one join back, one per-doc aggregation — all hash-keyed
    shuffles of (long, long) rows, never text. The shingle table feeds
    BOTH the document-frequency branch and the join-back, so it is
    materialized once — without that the Python shingle kernel (the
    dominant cost) executes twice (r3 bench watch item). The fraction
    divides two exact integers, scaled-floor-rounded for cross-engine
    stability."""
    from mbta_etl_spark.operators.dedup import _shingle_table

    sh = materialize(_shingle_table(df, text, id_col, k))
    dfreq = sh.groupBy("sh64").agg(F.count(F.lit(1)).alias("_df"))
    joined = sh.join(dfreq, "sh64")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("_df") > 1, 1)).alias("n_common"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_common",
            (
                F.floor(
                    F.col("n_common") / F.col("n_shingles") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("boilerplate_frac"),
        )
    )


def dsir_importance(
    df: DataFrame,
    text: Column,
    id_col: Column,
    source_col: str,
    target_source: str,
) -> DataFrame:
    """DSIR-style importance scoring (Data Selection via Importance
    Resampling, Xie et al. 2023): per-document mean log-likelihood
    ratio between a Laplace-smoothed unigram LM of the TARGET domain
    and one of the rest of the corpus — the score a pipeline resamples
    raw data by to match a high-quality target distribution. Reported
    per source (count, mean/min/max score) so the census shows the
    target's own sources scoring highest — the sanity check before
    anyone trusts the weights.

    Cross-engine exactness: both LMs' probabilities derive from integer
    counts in one pinned parenthesization; each word's log-ratio is
    floored onto a 1e-6 integer grid ONCE in the vocab table, so every
    per-doc sum (token log-ratios) and per-source mean accumulates as
    int64 — order-independent under any partitioning. The only libm
    call (ln) evaluates on bit-identical doubles in both engines.

    Shape: one explode over the corpus feeds token counts (map-side
    combinable) and the per-doc sums; the vocab table (distinct words
    + their l6 weight) joins back on the token key — the standard
    hash-join-on-token shape, broadcastable when the vocab fits and
    bucketable when it doesn't. The token table is persisted across
    its four consumers."""
    toks = materialize(
        df.select(
            id_col.alias("doc_id"),
            F.col(source_col).alias("source"),
            F.explode(F.split(text, " ")).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    is_t = F.col("source") == target_source
    ct = toks.filter(is_t).groupBy("tok").agg(F.count(F.lit(1)).alias("ct"))
    cc = toks.filter(~is_t).groupBy("tok").agg(F.count(F.lit(1)).alias("cc"))
    totals = toks.agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("nt"),
        F.sum(F.when(is_t, 0).otherwise(1)).alias("nc"),
        F.countDistinct("tok").alias("v"),
    )
    vocab = (
        toks.select("tok")
        .distinct()
        .join(ct, "tok", "left")
        .join(cc, "tok", "left")
        .crossJoin(F.broadcast(totals))
    )
    d = lambda c: c.cast("double")  # noqa: E731
    pt = (d(F.coalesce(F.col("ct"), F.lit(0))) + F.lit(1.0)) / (
        d(F.col("nt")) + d(F.col("v"))
    )
    pc = (d(F.coalesce(F.col("cc"), F.lit(0))) + F.lit(1.0)) / (
        d(F.col("nc")) + d(F.col("v"))
    )
    l6 = F.floor(F.log(pt / pc) * F.lit(1e6) + F.lit(0.5)).cast("long")
    vtab = vocab.select("tok", l6.alias("l6"))
    per_doc = (
        toks.join(vtab, "tok")
        .groupBy("doc_id", "source")
        .agg(F.sum("l6").alias("sl6"), F.count(F.lit(1)).alias("ntok"))
        .select(
            "source",
            F.floor(d(F.col("sl6")) / d(F.col("ntok")) + F.lit(0.5))
            .cast("long")
            .alias("s6"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("s6").alias("_sum"),
            F.min("s6").alias("_min"),
            F.max("s6").alias("_max"),
        )
        .select(
            "source",
            "n_docs",
            (
                F.floor(d(F.col("_sum")) / d(F.col("n_docs")) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("mean_score"),
            (d(F.col("_min")) / F.lit(1e6)).alias("min_score"),
            (d(F.col("_max")) / F.lit(1e6)).alias("max_score"),
        )
        .orderBy("source")
    )


# Gopher rule battery (Rae et al. 2021, "Scaling Language Models",
# Appendix A1.1), calibrated to the synthetic corpus so every rule is
# demonstrably active (the paper's bounds — 50..100k words, mean word
# length 3..10 — never fire on single-space word-stream documents).
GOPHER_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "to", "and", "in")


def gopher_rules_census(
    df: DataFrame,
    text: Column,
    source_col: str,
    min_words: int = 15,
    max_words: int = 90,
    word_len_bounds_c: tuple[int, int] = (425, 475),
    top_share_pct: int = 20,
    min_unique_pct: int = 50,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style quality-rule census: per-source counts of documents
    violating each of the five rules, plus the all-rules pass rate — the
    per-rule attribution a pipeline needs before turning a filter on
    (t02's scalar score can't say WHICH rule is doing the filtering).

    Rules (all integer cross-multiplied comparisons, so every verdict is
    engine-exact with no float grid):
      R1 word count outside [min_words, max_words]
      R2 mean word length outside bounds (centi-units: sum_len*100 vs n*c)
      R3 most-frequent token share > top_share_pct/100 (repetition)
      R4 unique-token ratio < min_unique_pct/100 (duplicate words)
      R5 fewer than min_stopword_hits stopword occurrences

    Shape: one scan, all five verdicts from higher-order functions on the
    split array (R3's distinct×occurrence count is O(u·n) per doc, JVM
    codegen, no shuffle), then one map-side-combinable groupBy(source) —
    the same cost envelope as any per-doc projection at 100 TB."""
    toks = F.filter(_tokens(text), lambda x: x != "")
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda t: t == w)),
        )
    )
    uniq = F.size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPWORDS)))
    lo_c, hi_c = word_len_bounds_c
    f1 = ((n < min_words) | (n > max_words)).cast("long")
    f2 = ((sum_len * 100 < n * lo_c) | (sum_len * 100 > n * hi_c)).cast("long")
    f3 = (top_cnt * 100 > n * top_share_pct).cast("long")
    f4 = (uniq * 100 < n * min_unique_pct).cast("long")
    f5 = (stop_hits < min_stopword_hits).cast("long")
    per_doc = df.select(
        F.col(source_col).alias("source"),
        f1.alias("f1"),
        f2.alias("f2"),
        f3.alias("f3"),
        f4.alias("f4"),
        f5.alias("f5"),
    )
    passed = (
        (F.col("f1") + F.col("f2") + F.col("f3") + F.col("f4") + F.col("f5")) == 0
    ).cast("long")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f1").alias("fail_word_count"),
            F.sum("f2").alias("fail_word_len"),
            F.sum("f3").alias("fail_top_share"),
            F.sum("f4").alias("fail_unique"),
            F.sum("f5").alias("fail_stopword"),
            F.sum(passed).alias("n_pass"),
        )
        .select(
            "source",
            "n_docs",
            "fail_word_count",
            "fail_word_len",
            "fail_top_share",
            "fail_unique",
            "fail_stopword",
            "n_pass",
            (
                F.floor(
                    F.col("n_pass").cast("double")
                    / F.col("n_docs").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("pass_frac"),
        )
        .orderBy("source")
    )


def bigram_lm_score(
    df: DataFrame,
    text: Column,
    id_col: Column,
    source_col: str,
) -> DataFrame:
    """Per-source census of per-document mean bigram log-probability
    under an add-one-smoothed corpus bigram LM — the CCNet/KenLM-style
    quality signal one order up from t11's unigram score: a document
    whose word PAIRS are typical of the corpus scores high even when
    individual words are common everywhere (and vice versa — shuffled
    word salad keeps its unigram score but craters here).

    Model: P(w2|w1) = (c(w1,w2) + 1) / (ctx(w1) + V), where ctx(w1)
    counts w1's occurrences WITH a successor (so the unsmoothed
    conditional sums to exactly 1) and V is the distinct successor
    vocabulary.

    Cross-engine exactness: the c27 discipline — probabilities derive
    from integer counts in one pinned parenthesization, each bigram
    TYPE's log-prob is floored onto the 1e-6 grid once in the bigram
    vocab table, and every per-doc / per-source accumulation is an
    int64 sum with one pinned division each.

    Shape: bigrams come from an in-row higher-order TRANSFORM over the
    token array (no positional self-join, no corpus-sized shuffle to
    build pairs); the bigram-type table is one partial-agg shuffle
    (bigram-vocab-sized), joined back on the pair key — broadcast when
    it fits, bucketed by key when it doesn't. The exploded pair table
    is persisted across its consumers."""
    arr = F.filter(_tokens(text), lambda x: x != "")
    pairs = (
        df.select(
            id_col.alias("doc_id"),
            F.col(source_col).alias("source"),
            arr.alias("_toks"),
        )
        .select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    "transform(slice(_toks, 1, size(_toks) - 1),"
                    " (x, i) -> struct(x AS w1, _toks[i + 1] AS w2))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "source", F.col("bg.w1"), F.col("bg.w2"))
    )
    pairs = materialize(pairs)
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    ctx = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = pairs.agg(F.countDistinct("w2").alias("v"))
    d = lambda c: c.cast("double")  # noqa: E731
    p = (d(F.col("c12")) + F.lit(1.0)) / (d(F.col("c1")) + d(F.col("v")))
    wtab = (
        c12.join(ctx, "w1")
        .crossJoin(F.broadcast(v))
        .select("w1", "w2", F.floor(F.log(p) * F.lit(1e6) + F.lit(0.5)).cast("long").alias("l6"))
    )
    per_doc = (
        pairs.join(wtab, ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(F.sum("l6").alias("sl6"), F.count(F.lit(1)).alias("nbg"))
        .select(
            "source",
            F.floor(d(F.col("sl6")) / d(F.col("nbg")) + F.lit(0.5))
            .cast("long")
            .alias("s6"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("s6").alias("_sum"),
            F.min("s6").alias("_min"),
            F.max("s6").alias("_max"),
        )
        .select(
            "source",
            "n_docs",
            (
                F.floor(d(F.col("_sum")) / d(F.col("n_docs")) + F.lit(0.5))
                / F.lit(1e6)
            ).alias("mean_lp"),
            (d(F.col("_min")) / F.lit(1e6)).alias("min_lp"),
            (d(F.col("_max")) / F.lit(1e6)).alias("max_lp"),
        )
        .orderBy("source")
    )


def feature_hashing_census(
    df: DataFrame,
    text: Column,
    n_buckets: int = 512,
) -> DataFrame:
    """Feature-hashing (hashing-trick) collision census: tokens are
    hashed into ``n_buckets`` fixed feature slots (first 8 hex digits of
    md5 mod B — the portable recipe every entry here shares), then the
    census reports, per collision class c (= distinct tokens sharing a
    slot), how many slots have exactly c distinct tokens and how much
    token MASS (total occurrences) those slots carry. This is the table
    that sizes a hashed bag-of-words featurizer before training: the
    expected collision class is Poisson(V/B), and mass concentrated in
    high-c slots means the hash width is eating signal.

    Shape: explode -> two map-side-combinable aggregates (token-keyed,
    then bucket-keyed) -> O(B) census rows; nothing data-sized leaves
    the shuffles, and B is a constant. 100 TB: identical plan — the
    token vocabulary aggregate is the only corpus-sized shuffle and it
    ships (token, count) pairs, not documents."""
    toks = df.select(
        F.explode(F.split(text, " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("occ"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % n_buckets
    )
    slots = vocab.select(bucket.alias("slot"), "occ").groupBy("slot").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("occ").alias("occurrences"),
    )
    return (
        slots.groupBy("n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_slots"),
            F.sum("occurrences").alias("total_occurrences"),
        )
        .select(
            F.col("n_tokens").alias("collision_class"),
            "n_slots",
            "total_occurrences",
        )
    )
