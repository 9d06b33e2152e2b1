"""Deterministic sampling operators for training-data pipelines.

``df.sample``/``sampleBy`` draw from a per-partition RNG stream, so the
kept set changes whenever partitioning changes — unacceptable for
reproducible corpus construction. These operators sample by CONTENT
HASH instead: a row is kept iff md5_32(key) mod D lands under the
rate. Properties a 100 TB pipeline needs:

- **Reproducible anywhere**: same rows survive on any cluster, any
  partitioning, any engine (md5 is md5) — and the oracle can replay it.
- **Stable under growth**: a row's fate never changes as the corpus
  grows, so incremental reruns don't churn the sample.
- **No coordination**: pure projection + filter, no shuffle, no RNG
  state; composes with partition pruning and pushdown.
- **Salt to decorrelate**: different sample draws use different salts;
  without a salt change, nested samples are subsets (often a feature:
  10% ⊂ 20%).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.operators.core import materialize

DENOM = 10_000  # basis points: rates quantized to 0.01%


def _bucket(key: Column, salt: str) -> Column:
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 8), 16, 10
    ).cast("long")
    return h % DENOM


def hash_sample(df: DataFrame, key: Column, rate: float, salt: str = "s0") -> DataFrame:
    """Keep ~rate of rows, chosen by content hash of ``key``."""
    return df.filter(_bucket(key, salt) < int(rate * DENOM))


def stratified_hash_sample(
    df: DataFrame, key: Column, stratum: Column, rates: dict[str, float]
) -> DataFrame:
    """Per-stratum hash sampling: stratum value → keep rate (strata not
    in ``rates`` are dropped). One codegen'd CASE over the hash bucket —
    no shuffle, no per-stratum pass, unlike ``sampleBy``."""
    thresh = None
    for value, rate in sorted(rates.items()):
        t = F.lit(int(rate * DENOM))
        thresh = (
            F.when(stratum == value, t)
            if thresh is None
            else thresh.when(stratum == value, t)
        )
    thresh = thresh.otherwise(F.lit(0))
    return df.filter(_bucket(key, "s0") < thresh)


def token_budget_sample(
    df: DataFrame,
    key: Column,
    stratum: Column,
    n_tokens: Column,
    budget: int,
) -> DataFrame:
    """Per-stratum document selection up to a token budget: within each
    stratum, walk documents in content-hash order and keep them while the
    running token total stays ≤ budget. The hash order makes the kept set
    a uniform-at-random prefix that is reproducible on any cluster and
    replayable by the oracle (the standard "N billion tokens per source"
    corpus-construction step).

    One window (cumulative sum partitioned by stratum, ordered by hash
    then key for total determinism) + one filter. Scale note: the window
    sort is per-stratum; a stratum far larger than a partition sorts via
    shuffle-range-sort, which is the unavoidable cost of an ordered
    prefix — if only the BUDGET matters (not which docs), swap the order
    key for the doc's hash bucket and pre-aggregate per bucket to pick a
    bucket-granular prefix with no full sort."""
    from pyspark.sql import Window

    # project/rename FIRST, then window over the renamed columns — the
    # caller's Column expressions are unresolvable post-projection
    base = df.select(
        key.alias("doc_id"),
        stratum.alias("stratum"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    h = F.md5(F.concat(F.lit("s0"), F.col("doc_id").cast("string")))
    w = (
        Window.partitionBy("stratum")
        .orderBy(h, "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.withColumn("cum_tokens", F.sum("n_tokens").over(w)).filter(
        F.col("cum_tokens") <= budget
    )


def weighted_sample_topk(
    df: DataFrame,
    key: Column,
    weight: Column,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-Res):
    each row draws u ∈ (0,1) from its content hash and scores
    ln(u)/weight; the k highest scores are a weighted-without-replacement
    sample. Fully deterministic (content-hash u, no RNG state), exact-k,
    single-pass: the top-k plans as TakeOrderedAndProject — per-partition
    heaps, no global sort, no shuffle of non-winners. This is THE
    distributed weighted sampler: reservoir semantics without any
    sequential reservoir."""
    u = (_bucket(key, "s0").cast("double") + F.lit(0.5)) / F.lit(float(DENOM))
    score = F.log(u) / weight.cast("double")
    return (
        df.select(
            key.alias("doc_id"),
            weight.cast("double").alias("weight"),
            score.alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def per_stratum_topn(
    df: DataFrame,
    key: Column,
    stratum: Column,
    n: int,
) -> DataFrame:
    """Exactly-n-per-stratum sampling ("1000 eval docs per language"):
    rank rows within each stratum by content hash (uniform, reproducible)
    and keep rank ≤ n. One per-stratum window; unlike fraction-based
    sampling the count per stratum is exact. For strata far larger than
    n at extreme scale, pre-filter with a generous hash_sample first so
    the window sorts a small superset instead of the full stratum."""
    from pyspark.sql import Window

    base = df.select(key.alias("doc_id"), stratum.alias("stratum"))
    h = F.md5(F.concat(F.lit("s0"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("stratum").orderBy(h, "doc_id")
    return (
        base.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def split_assign(df: DataFrame, key: Column) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: the hash bucket
    of ``key`` picks the split, so membership is exhaustive, disjoint,
    reproducible on any partitioning, and stable as the corpus grows (a
    doc never migrates between splits on re-runs). Pure projection — no
    shuffle."""
    b = _bucket(key, "split")
    return df.withColumn(
        "split", F.when(b < 8000, "train").when(b < 9000, "val").otherwise("test")
    )


def chunk_pack(df: DataFrame, id_col: Column, n_tokens: Column, capacity: int) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are conceptually
    concatenated in ``id_col`` order and sliced into fixed ``capacity``
    token windows (docs may straddle window boundaries — the standard
    pretraining packing that wastes zero tokens). Returns each doc's
    byte-offset view of that layout: start offset, first/last chunk
    index, and how many chunks it spans.

    The global prefix sum runs as a single-partition window — but over a
    two-column (id, count) projection, never the text, so even a 100 TB
    corpus reduces to ~#docs × 16 bytes first. Beyond that, the standard
    two-phase scale-out applies (per-partition subtotals + broadcast
    prefix offsets); the single-window form is kept here because its
    plan is fully declarative and oracle-checkable."""
    from pyspark.sql import Window

    w = (
        Window.orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = df.select(id_col.alias("doc_id"), n_tokens.cast("long").alias("n_tokens"))
    end_off = F.sum("n_tokens").over(w)
    start_off = (end_off - F.col("n_tokens")).alias("start_off")
    return d.select(
        "doc_id",
        "n_tokens",
        start_off,
        F.floor(start_off / capacity).alias("chunk_first"),
        F.floor((end_off - 1) / capacity).alias("chunk_last"),
        (
            F.floor((end_off - 1) / capacity) - F.floor(start_off / capacity) + 1
        ).alias("n_chunks"),
    )


def greedy_pack(
    df: DataFrame,
    group_col: str,
    id_col: str,
    n_tokens: Column,
    capacity: int,
) -> DataFrame:
    """Greedy sequential bin packing WITHOUT splitting documents: within
    each ``group_col`` shard, walk docs in ``id_col`` order and open a
    new bin whenever the next doc would overflow ``capacity`` (a doc
    larger than capacity gets its own bin). The no-straddle dual of
    ``chunk_pack`` — used when examples must stay contiguous (SFT /
    instruction data).

    Packing is sequential by nature, so it runs as a per-group
    ``applyInPandas`` kernel — embarrassingly parallel across shards,
    which is exactly how a 100 TB corpus is packed in practice (order
    only needs to be stable within a shard, not globally). State per
    task is O(1); input arrives Arrow-batched."""
    import pandas as pd

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("source", StringType()),
            StructField("doc_id", LongType()),
            StructField("n_tokens", LongType()),
            StructField("bin", LongType()),
        ]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins: list[int] = []
        fill, b = 0, 0
        for i, n in enumerate(pdf["n_tokens"]):
            n = int(n)
            if i == 0:
                fill = n
            elif fill + n <= capacity:
                fill += n
            else:
                b += 1
                fill = n
            bins.append(b)
        pdf["bin"] = pd.Series(bins, dtype="int64")
        return pdf[["source", "doc_id", "n_tokens", "bin"]]

    d = df.select(
        F.col(group_col).alias("source"),
        F.col(id_col).alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    return d.groupBy("source").applyInPandas(_pack, schema=schema)


def weighted_mix(
    df: DataFrame,
    key: Column,
    stratum: Column,
    weights: dict[str, float],
) -> DataFrame:
    """Weighted corpus mixture: stratum weight w replicates each row
    floor(w) times plus one extra copy with probability frac(w), decided
    by content hash (same determinism argument as hash_sample). Strata
    absent from ``weights`` get 0 and drop out. Emits a ``copy`` ordinal
    (1..n) so downstream shuffles can tell replicas apart. The expansion
    is explode-after-filter: rows with zero copies never enter the
    explode, and no shuffle is introduced."""
    w_int = None
    w_frac = None
    for value, w in sorted(weights.items()):
        iw, fw = int(w), int(round((w - int(w)) * DENOM))
        w_int = (
            F.when(stratum == value, iw)
            if w_int is None
            else w_int.when(stratum == value, iw)
        )
        w_frac = (
            F.when(stratum == value, fw)
            if w_frac is None
            else w_frac.when(stratum == value, fw)
        )
    n = w_int.otherwise(0) + (_bucket(key, "mix") < w_frac.otherwise(0)).cast("int")
    copies = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(F.array())
    return df.withColumn("copy", F.explode(copies))


def temperature_mix(
    df: DataFrame,
    key: Column,
    stratum: Column,
    budget: int,
) -> DataFrame:
    """Temperature-flattened source mixture (tau = 0.5): per-stratum
    share proportional to sqrt(stratum count), the standard trick for
    boosting small domains without letting huge ones dominate a
    pretraining mix. Each stratum contributes its hash-ranked top
    floor(budget * sqrt(n_s)/S + 0.5) rows, S = sum of sqrt counts.

    tau is fixed at 0.5 deliberately: sqrt is the one power IEEE 754
    requires correctly rounded, so Spark and any SQL oracle compute
    bit-identical shares — pow(x, tau) for general tau is only
    ~1-ulp-accurate and engine-dependent, which would make target
    counts flicker at rounding boundaries.

    Scale shape: one count aggregation (stratum-keyed, tiny result), a
    broadcast of the per-stratum targets back onto the corpus, and one
    rank window per stratum — the same envelope as per_stratum_topn."""
    from pyspark.sql import Window

    counts = df.groupBy(stratum.alias("stratum")).agg(
        F.count(F.lit(1)).alias("n_s")
    )
    total = counts.agg(F.sum(F.sqrt("n_s")).alias("sqrt_sum"))
    targets = counts.crossJoin(F.broadcast(total)).select(
        "stratum",
        F.floor(
            F.sqrt("n_s") / F.col("sqrt_sum") * F.lit(float(budget))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("target"),
    )
    w = Window.partitionBy(stratum).orderBy(
        F.md5(F.concat(F.lit("tm"), key.cast("string"))), key
    )
    ranked = df.select(
        key.alias("doc_id"),
        stratum.alias("stratum"),
        F.row_number().over(w).alias("rank"),
    )
    return (
        ranked.join(F.broadcast(targets), "stratum")
        .filter(F.col("rank") <= F.col("target"))
        .select("doc_id", "stratum", "rank")
    )


def epoch_plan(
    df: DataFrame,
    source: Column,
    n_tokens: Column,
    weights: dict[str, float],
    budget_tokens: int,
    max_epochs: float,
) -> DataFrame:
    """Epoch-allocation planner: given a global training token budget and
    per-source mixture weights, how many EPOCHS (passes, possibly
    fractional or repeated) of each source does the recipe imply, capped
    at ``max_epochs`` repeats — the published-model data-mix table
    (tokens sampled vs tokens available vs epochs), and the input c02's
    replication mixing would consume at production scale. The reference
    stops at per-source counts; budget planning is the step a 100 TB
    corpus actually schedules from.

    target = floor(normalized_weight x budget); epochs_needed =
    target/available; served caps at ``max_epochs`` passes; deficit is
    the shortfall the recipe cannot fill without more data (the
    over-epoch warning in any data-mix review).

    Scale shape: ONE source-keyed partial-aggregating groupBy over the
    corpus; everything after runs on the per-source table (#sources
    rows), where the global normalization window costs nothing. Weights
    ride a literal map expression — no join, no extra input.
    """
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    w_map = F.create_map(
        *[F.lit(x) for k, v in weights.items() for x in (k, float(v))]
    )
    per = (
        df.groupBy(source.alias("source"))
        .agg(F.sum(n_tokens).cast("long").alias("avail_tokens"))
        .withColumn("weight", F.coalesce(w_map[F.col("source")], F.lit(0.0)))
        .filter(F.col("weight") > 0)
    )
    per = per.withColumn(
        "w_norm", r6(F.col("weight") / F.sum("weight").over(Window.partitionBy()))
    ).withColumn(
        "target_tokens",
        F.floor(F.col("w_norm") * F.lit(float(budget_tokens))).cast("long"),
    )
    per = per.withColumn(
        "epochs_needed", r6(F.col("target_tokens") / F.col("avail_tokens"))
    ).withColumn(
        "epochs_served", F.least(F.col("epochs_needed"), F.lit(float(max_epochs)))
    )
    served = F.floor(F.col("epochs_served") * F.col("avail_tokens")).cast("long")
    return per.select(
        "source",
        "avail_tokens",
        "weight",
        "w_norm",
        "target_tokens",
        "epochs_needed",
        "epochs_served",
        served.alias("served_tokens"),
        F.greatest(F.col("target_tokens") - served, F.lit(0).cast("long")).alias(
            "deficit_tokens"
        ),
    )


def shuffle_shards(
    df: DataFrame,
    id_col: Column,
    source: Column,
    n_tokens: Column,
    n_shards: int,
) -> DataFrame:
    """Deterministic global shuffle + sharding for dataloader prep: the
    LAST step of a training-data pipeline — spread the corpus
    pseudo-randomly over ``n_shards`` output shards and randomize order
    within each shard, so any shard prefix is an unbiased corpus sample.

    Shard assignment is content-hash mod n_shards and the intra-shard
    order key is the salted md5 itself — NO global sort anywhere (a
    NTILE-over-global-ORDER formulation would serialize 100 TB through
    one window). The physical write is `repartition(shard_id)` +
    `sortWithinPartitions(order_key)`: one hash exchange, per-partition
    local sorts. Returns the per-shard audit a shuffle job ships with:
    doc/token balance (hash-uniform by construction) and source mixing
    (every shard should see ~all sources), plus the first/last order
    keys that pin the intra-shard ordering deterministically.
    """
    key = F.md5(F.concat(F.lit("shard"), id_col.cast("string")))
    h = F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    per = df.select(
        (h % n_shards).alias("shard_id"),
        key.alias("order_key"),
        source.alias("source"),
        n_tokens.cast("long").alias("n_tokens"),
    )
    return per.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.min("order_key").alias("first_key"),
        F.max("order_key").alias("last_key"),
    )


def materialize_epochs(
    df: DataFrame,
    id_col: Column,
    source: Column,
    n_tokens: Column,
    plan: DataFrame,
) -> DataFrame:
    """Materialize an epoch-allocation plan into the training stream:
    replicate every document floor(epochs_served) times plus one
    hash-fractional extra copy (the same integer+fractional replication
    c02's weighted mixing uses, keyed so the choice of which docs carry
    the fractional epoch is deterministic), then audit achieved tokens
    per source against the plan's served_tokens.

    Scale shape: the plan is a #sources-row table — broadcast join, no
    shuffle to meet the corpus; replication is explode(sequence(...)),
    a per-row codegen expansion with no driver loop; the audit is one
    source-keyed partial aggregation. Output rows scale with
    epochs x corpus — exactly the training stream a dataloader reads.
    """
    j = df.select(
        id_col.alias("doc_id"),
        source.alias("source"),
        n_tokens.cast("long").alias("n_tokens"),
    ).join(
        F.broadcast(plan.select("source", "epochs_served", "served_tokens")),
        "source",
    )
    whole = F.floor(F.col("epochs_served")).cast("long")
    frac = F.col("epochs_served") - F.floor(F.col("epochs_served"))
    extra = (
        F.when(_bucket(F.col("doc_id"), "epoch") < frac * DENOM, 1)
        .otherwise(0)
        .cast("long")
    )
    emitted = (
        j.withColumn("copies", whole + extra)
        .filter(F.col("copies") > 0)
        .withColumn("rep", F.explode(F.sequence(F.lit(1), F.col("copies").cast("int"))))
    )
    return emitted.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("emitted_rows"),
        F.sum("n_tokens").cast("long").alias("achieved_tokens"),
        F.max("served_tokens").alias("served_tokens"),
        (
            F.floor(F.sum("n_tokens") / F.max("served_tokens") * 1e6 + 0.5) / 1e6
        ).alias("fill_ratio"),
    )


def overlap_chunks(
    df: DataFrame,
    id_col: Column,
    n_tokens: Column,
    window: int,
    stride: int,
) -> DataFrame:
    """RAG-style sliding-window chunking WITH overlap (stride < window):
    per document, chunk i spans [i*stride, min(i*stride+window, n)) —
    the indexing-time complement of chunk_pack's disjoint training
    packing, where the overlap keeps context that a hard boundary would
    sever. Emits one row per chunk with its token span, length, and
    overlap with the previous chunk.

    Pure integer arithmetic + explode(sequence(...)) — a per-row codegen
    expansion, no shuffle at all (chunking is embarrassingly parallel
    per document); output volume is ~n_tokens/stride rows per doc, the
    index being built.
    """
    n = n_tokens.cast("long")
    n_chunks = F.when(n <= window, F.lit(1).cast("long")).otherwise(
        F.floor((n - window + stride - 1) / stride).cast("long") + 1
    )
    e = df.select(
        id_col.alias("doc_id"), n.alias("n"), n_chunks.alias("n_chunks")
    ).withColumn("chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)))
    start = F.col("chunk_idx") * stride
    end = F.least(start + window, F.col("n"))
    prev_end = F.least((F.col("chunk_idx") - 1) * stride + window, F.col("n"))
    return e.select(
        "doc_id",
        "chunk_idx",
        start.alias("start_tok"),
        end.alias("end_tok"),
        (end - start).alias("chunk_len"),
        F.when(F.col("chunk_idx") == 0, F.lit(0).cast("long"))
        .otherwise(F.greatest(F.lit(0).cast("long"), prev_end - start))
        .alias("overlap_prev"),
    )


def pad_waste_census(
    df: DataFrame, n_tokens: Column, bucket_caps: list[int]
) -> DataFrame:
    """Dataloader padding economics: assign every sequence to the
    smallest length bucket that holds it (an explicit cap ladder — pure
    integer CASE, no float log2 whose boundary rounding could differ
    across engines) and measure, per bucket, the padding a
    bucketed-batching dataloader pays (pad to the bucket cap) versus
    naive global-max padding (pad every sequence to the corpus max).
    The per-bucket ``waste_frac`` and ``naive_pad_tokens`` columns are
    exactly the numbers that decide a packing strategy: high bucket
    waste → add a bucket boundary; bucket≈naive → bucketing isn't
    helping and the batcher should pack (c04/c05) instead.

    Shape: one projection pass + one small groupBy on the bucket cap
    (≤len(bucket_caps) groups — partial aggregation collapses each
    partition to a handful of rows before the exchange), plus a 1-row
    global max broadcast-joined onto the buckets. At 100 TB this is a
    single corpus scan; the output is bounded by the ladder size.
    Sequences longer than the top cap go to a final overflow bucket at
    the observed max (they would be truncated or streamed in practice).
    """
    n = n_tokens.cast("long")
    cap = None
    for c in sorted(bucket_caps, reverse=True):
        cap = F.lit(int(c)).cast("long") if cap is None else cap
        cap = F.when(n <= int(c), F.lit(int(c)).cast("long")).otherwise(cap)
    top = max(bucket_caps)
    seqs = df.select(
        n.alias("n"),
        F.when(n > top, F.lit(None).cast("long")).otherwise(cap).alias("cap"),
    )
    per_bucket = seqs.groupBy("cap").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("n").cast("long").alias("sum_tokens"),
        F.max("n").cast("long").alias("max_in_bucket"),
    )
    # overflow bucket pads to its own observed max
    eff_cap = F.coalesce(F.col("cap"), F.col("max_in_bucket"))
    global_max = seqs.agg(F.max("n").cast("long").alias("global_max"))
    b = per_bucket.join(F.broadcast(global_max))
    pad = eff_cap * F.col("n_seqs") - F.col("sum_tokens")
    naive = F.col("global_max") * F.col("n_seqs") - F.col("sum_tokens")
    return b.select(
        eff_cap.alias("bucket_cap"),
        "n_seqs",
        "sum_tokens",
        pad.alias("pad_tokens"),
        (F.floor(pad / (eff_cap * F.col("n_seqs")) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "waste_frac"
        ),
        naive.alias("naive_pad_tokens"),
    )


def doremi_domain_weights(
    df: DataFrame,
    text: Column,
    id_col: Column,
    source_col: str,
    eta_pct: int = 50,
    n_iters: int = 8,
) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023): iterate
    multiplicative-weights updates that upweight domains whose loss
    exceeds the current mixture's weighted average loss. The per-domain
    loss proxy is mean token surprisal under the corpus-wide unigram LM
    (the reference-model term a full DoReMi run learns); the update is
    the classic LINEAR multiplicative-weights rule w·(1 + eta·excess) —
    equal to exp-Hedge to O(eta²) and, unlike exp, expressible entirely
    in IEEE-exact arithmetic, so Spark and the SQL oracle agree bit for
    bit with no libm-exp dependency.

    Exactness: per-token surprisal is pinned ONCE onto a 1e-6 integer
    grid in the vocab table (the only ln calls, O(vocab) of them, on
    bit-identical doubles); per-domain loss L6 and every iteration value
    (weighted-average Σw6·L6, update factor, renormalized weight) are
    int64 sums/products plus IEEE-correctly-rounded divisions — fully
    order-independent under any partitioning.

    Shape: one corpus explode feeds token counts and the per-domain sums
    via a token-keyed join onto the vocab weight table (broadcast when
    the vocab fits, bucketed otherwise). The iteration itself runs
    driver-side over the COLLECTED per-domain table — bounded by the
    number of domains (tens, never data-sized), the same bounded-state
    pattern as k-means centroids. Final weights rejoin as a broadcast
    literal table."""
    toks = materialize(
        df.select(
            id_col.alias("doc_id"),
            F.col(source_col).alias("source"),
            F.explode(F.split(text, " ")).alias("tok"),
        ).filter(F.col("tok") != "")
    )
    totals = toks.agg(F.count(F.lit(1)).alias("n"))
    d = lambda c: c.cast("double")  # noqa: E731
    s6 = F.floor(
        -F.log(d(F.col("c")) / d(F.col("n"))) * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    vtab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(totals))
        .select("tok", s6.alias("s6"))
    )
    dom = (
        toks.join(vtab, "tok")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("s6").alias("ss6"),
        )
        .select(
            "source",
            "n_docs",
            "n_toks",
            F.floor(d(F.col("ss6")) / d(F.col("n_toks")) + F.lit(0.5))
            .cast("long")
            .alias("l6"),
        )
    )
    import math

    rows = dom.select("source", "l6").collect()  # bounded: one row per domain
    k = len(rows)
    w6 = {r["source"]: 10**6 // k for r in rows}
    l6 = {r["source"]: int(r["l6"]) for r in rows}
    for _ in range(n_iters):
        s = sum(w6[src] * l6[src] for src in w6)
        u = {}
        for src in w6:
            # f6 = 1e6·(1 + eta·excess); excess = (l6·1e6 − Σw6·l6)/1e12,
            # so f6 = 1e6 + eta_pct·excessQ/1e8 — every operand exact in
            # double (≤2^53), the division IEEE-correctly-rounded.
            f6 = 10**6 + int(
                math.floor(eta_pct * float(l6[src] * 10**6 - s) / 1e8 + 0.5)
            )
            u[src] = w6[src] * max(f6, 1)
        usum = sum(u.values())
        w6 = {
            src: int(math.floor(float(u[src]) / float(usum) * 1e6 + 0.5))
            for src in u
        }
    spark = df.sparkSession
    wlit = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(src).alias("source"),
                        F.lit(w6[src]).cast("long").alias("w6"),
                    )
                    for src in sorted(w6)
                ]
            )
        ).alias("s")
    ).select("s.source", "s.w6")
    return (
        dom.join(F.broadcast(wlit), "source")
        .select(
            "source",
            "n_docs",
            "n_toks",
            (d(F.col("l6")) / F.lit(1e6)).alias("loss"),
            (d(F.lit(10**6 // k)) / F.lit(1e6)).alias("w_init"),
            (d(F.col("w6")) / F.lit(1e6)).alias("w_final"),
        )
        .orderBy("source")
    )
