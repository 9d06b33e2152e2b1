"""Deduplication operators for training-data pipelines: exact,
fingerprint (token-multiset), n-gram Jaccard near-dup, MinHash+LSH,
SimHash.

Scale design notes
------------------
- Exact / fingerprint dedup: one hash projection + one groupBy shuffle on
  the hash — the canonical 100 TB dedup shape (hash is uniform, so no
  skew; partial aggregation keeps shuffled bytes ~ #groups).
- n-gram Jaccard: explode distinct shingles → self-join on shingle →
  pair-count. Cost is Σ_s df(s)², so high-document-frequency shingles
  explode quadratically; ``max_shingle_df`` caps them (standard practice —
  a shingle in >N docs carries ~no similarity signal). At 100 TB you'd
  always set the cap.
- MinHash+LSH: the scalable near-dup path. Signatures are a bounded
  (n_hashes × doc) aggregation; banding turns O(n²) pair generation into
  a join on band keys, so only probable-similar pairs are verified.
- All hashing is md5-based and engine-portable: every operator here has a
  bit-exact DuckDB oracle (MinHash "permutations" are min-of-md5-hex per
  seed — lexicographic min over a keyed hex digest is a valid random
  permutation proxy and identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

NUM_HASHES = 16
BAND_SIZE = 4  # 4 bands × 4 rows


def exact_dedup_groups(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Exact dedup by sha256(text): one row per distinct content with the
    canonical (min) id and copy count. The kept-set is
    ``keep_doc_id``; everything else is a duplicate."""
    return (
        df.select(F.sha2(text, 256).alias("text_sha"), id_col.alias("_id"))
        .groupBy("text_sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("_id").alias("keep_doc_id"),
        )
    )


def fingerprint_dedup_groups(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """Order-insensitive dedup: md5 of the sorted token multiset — catches
    shuffled/reordered copies exact hashing misses."""
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.split(text, " "))))
    return (
        df.select(fp.alias("fp"), id_col.alias("_id"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("_id").alias("keep_doc_id"),
        )
    )


# Shared once-computed-stage helper (see its docstring for the
# persist-vs-localCheckpoint trade-off). Callers that want a caller-owned
# cache can still pass a pre-persisted table through the ``shingles=``
# parameters.
from mbta_etl_spark.operators.core import materialize as _materialize  # noqa: E402


def _shingle_table(df: DataFrame, text: Column, id_col: Column, k: int) -> DataFrame:
    """(doc_id, sh64) exploded distinct-shingle table, keyed by the first
    60 bits of md5(shingle) as a long.

    Every downstream consumer needs only shingle EQUALITY (set
    intersection, document frequency) or the md5-derived minhash input —
    never the text — so the cached/shuffled table carries an 8-byte key
    instead of the shingle string. Expected spurious-equality count over
    S distinct shingles is C(S,2)/2^60 (~3e-8 at S=260k): far below any
    practical corpus's noise floor, though formally the Jaccard counts
    are exact only w.h.p. The 32-bit minhash input is the TOP 8 hex
    digits, recoverable as sh64 div 16^7 — bit-identical to what the
    DuckDB oracle computes from the raw shingle.

    Runs as an Arrow-batched mapInPandas kernel: tokenize, k-gram,
    per-doc distinct, and md5 all happen in one Python pass (hashlib's C
    md5 + C-level string slicing), which measures ~2x faster than the
    equivalent interpreted higher-order-function expression chain and
    ships only (long, long) rows back across the Arrow boundary.
    Shingles split on single space, docs shorter than k tokens
    contribute one whole-text shingle, null text contributes nothing."""
    import hashlib

    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("sh64", LongType())]
    )

    def _shingle(batches):
        for pdf in batches:
            ids: list[int] = []
            keys: list[int] = []
            for did, txt in zip(pdf["doc_id"], pdf["_text"]):
                if txt is None:
                    continue
                toks = txt.split(" ")
                if len(toks) >= k:
                    ss = {
                        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                    }
                else:
                    ss = {txt}
                for s in ss:
                    ids.append(did)
                    keys.append(int(hashlib.md5(s.encode()).hexdigest()[:15], 16))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "sh64": pd.Series(keys, dtype="int64"),
                }
            )

    from mbta_etl_spark.operators.core import balance_scan

    # round-8: balance the (id, text) projection across the cluster's
    # parallelism before the kernel — single-row-group local scans ran
    # the whole shingle+md5 pass in one task (measured 0.76 -> 0.57 s
    # at sf0.1); conditional no-op once the scan itself is parallel
    return balance_scan(
        df.select(id_col.alias("doc_id"), text.alias("_text"))
    ).mapInPandas(_shingle, schema=schema)


def ngram_jaccard_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """All-pairs token-k-gram Jaccard similarity ≥ threshold.

    shingle-join candidate generation: pairs sharing ≥1 shingle, then
    |A∩B| from the pair-count and |A∪B| = |A|+|B|−|A∩B|.
    ``max_shingle_df`` drops shingles present in more than N docs before
    the join (cap the quadratic term; None = exact all-pairs).
    ``shingles`` lets a caller that already materialized the (doc_id,
    sh64) table (e.g. d13 running this AND the LSH pipeline on the same
    corpus) share it instead of re-scanning the text.
    """
    # the shingle table feeds three plan branches (sizes, join-left,
    # join-right); persist AND materialize eagerly — lazily-persisted
    # branches within one action each recompute before the cache fills
    if shingles is not None:
        sh = shingles
    else:
        sh = _materialize(_shingle_table(df, text, id_col, k))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("sh64")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("sh64")
        )
        sh = sh.join(rare, "sh64")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "sh64")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    jacc = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """DIRECTED n-gram containment: for ordered pairs,
    containment(sub→super) = |sub ∩ super| / |sub| ≥ threshold.

    Catches what symmetric Jaccard misses: a short document wholly
    quoted inside a long one scores near-zero Jaccard (union is
    dominated by the long doc) but containment ≈ 1 — the standard
    signal for quote/boilerplate/subset duplication in corpus curation.

    Same candidate machinery as ``ngram_jaccard_pairs`` (shingle
    self-join computes each undirected pair's intersection ONCE), then
    both directions are derived from that single count — the union is a
    projection, not a second join. ``max_shingle_df`` caps the quadratic
    hot-shingle term exactly as in d03."""
    sh = _materialize(_shingle_table(df, text, id_col, k))
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("sh64")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("sh64")
        )
        sh = sh.join(rare, "sh64")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "sh64")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    both = inter.join(sa, "doc_a").join(sb, "doc_b")

    def _r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    fwd = both.select(
        F.col("doc_a").alias("doc_sub"),
        F.col("doc_b").alias("doc_super"),
        _r6(F.col("n_inter") / F.col("size_a")).alias("containment"),
    )
    rev = both.select(
        F.col("doc_b").alias("doc_sub"),
        F.col("doc_a").alias("doc_super"),
        _r6(F.col("n_inter") / F.col("size_b")).alias("containment"),
    )
    return fwd.unionAll(rev).filter(F.col("containment") >= threshold)


MINHASH_PRIME = 4294967311  # smallest prime > 2^32


def _mh_a(seed: int) -> int:
    return 1000003 * seed + 12345


def _mh_b(seed: int) -> int:
    return 7919 * seed + 17


def _minhash_wide(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): all minhashes in ONE map-side-combinable
    aggregation over the shingle table — NUM_HASHES min-columns instead of
    exploding NUM_HASHES× rows through the shuffle.

    Permutation family is Carter-Wegman universal hashing over ONE md5:
    x = first 8 hex chars of md5(shingle) as uint32, h_s = (a_s·x + b_s)
    mod p with p = 4294967311. One digest + NUM_HASHES multiply-adds per
    shingle instead of NUM_HASHES digests — pure 64-bit integer arithmetic
    (a_s < 2^24, x < 2^32, no overflow), identical in any engine."""
    # top 32 bits of the 60-bit key == first 8 hex digits of md5(shingle)
    x = F.expr("sh64 DIV 268435456")  # 16^7
    mins = [
        F.min(
            (F.lit(_mh_a(s)) * x + F.lit(_mh_b(s))) % F.lit(MINHASH_PRIME)
        ).alias(f"mh{s}")
        for s in range(NUM_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def _band_table_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) LSH band table from a (doc_id, sh64)
    shingle table: wide per-doc minhash signature, md5 band keys over
    each band's minhashes in seed order, stacked to rows for the
    collision equi-join."""
    wide = _minhash_wide(sh)
    n_bands = NUM_HASHES // BAND_SIZE
    band_keys = [
        F.md5(
            F.concat_ws(
                "|", *[F.col(f"mh{b * BAND_SIZE + r}") for r in range(BAND_SIZE)]
            )
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, bk{b}" for b in range(n_bands))
    return wide.select("doc_id", *band_keys).select(
        "doc_id", F.expr(f"stack({n_bands}, {stack_args}) AS (band, band_key)")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.5,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with true Jaccard ≥ threshold.

    Pipeline: signatures → band keys (md5 over the band's minhashes in
    seed order) → candidate pairs = docs sharing any band key → exact
    Jaccard verification of candidates only. This is the sub-quadratic
    path for 100 TB near-dedup; the verification join only touches
    candidate pairs. ``shingles`` shares a caller-materialized
    (doc_id, sh64) table (see ngram_jaccard_pairs)."""
    # shingle generation feeds 4 plan branches (signatures, sizes, and
    # both sides of the verification join) — persist + eager materialize
    # so it is computed once
    if shingles is not None:
        sh = shingles
    else:
        sh = _materialize(_shingle_table(df, text, id_col, k))
    # band keys straight from the wide signature: one aggregation, then a
    # stack to (doc_id, band, band_key) rows for the collision join — no
    # per-(doc,seed) shuffle, no collect_list. Round-8 (guide §2.4/§5):
    # the band table feeds BOTH sides of the collision self-join and the
    # exchange was not reused, so the min-per-seed signature aggregation
    # ran twice — materialize it once (n_docs x n_bands rows, the §8
    # lightweight proxy).
    bands = _materialize(_band_table_from_shingles(sh))
    ba = bands.alias("ba")
    bb = bands.alias("bb")
    cand = (
        ba.join(bb, ["band", "band_key"])
        .filter(F.col("ba.doc_id") < F.col("bb.doc_id"))
        .select(
            F.col("ba.doc_id").alias("doc_a"), F.col("bb.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "sh64")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "sh64")
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "sh64"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    jacc = F.col("n_inter") / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate_ngrams(
    train: DataFrame,
    test: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per training document, the fraction of
    its distinct token k-grams that also occur anywhere in the held-out
    ``test`` set. A pipeline drops (or flags) train docs above a
    contamination threshold before pretraining so eval numbers stay
    honest.

    Shape: both sides reduce to 8-byte shingle keys (the Arrow-batched
    kernel from ``_shingle_table``); the test side collapses to a
    DISTINCT key set — orders of magnitude smaller than the corpus, and
    independent of train size — which broadcasts into a left-semi probe
    of the train shingle table. The only corpus-sized shuffle is the
    per-doc groupBy counts. At 100 TB train / GB-scale test this is the
    standard shape: the benchmark-gram set rides along as a broadcast
    (or a bloom filter of it, trading exactness for memory)."""
    test_keys = _shingle_table(test, text, id_col, k).select("sh64").distinct()
    train_sh = _materialize(_shingle_table(train, text, id_col, k))
    sizes = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        train_sh.join(F.broadcast(test_keys), "sh64", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )


SIMHASH_BITS = 64


def simhash(df: DataFrame, text: Column, id_col: Column) -> DataFrame:
    """64-bit SimHash over distinct tokens (the Manku/Jain/Sarma WWW'07
    configuration — 64-bit fingerprints, hamming ≤ 3): token hash = first
    16 hex chars of md5 split into two uint32 halves; each bit position
    accumulates +1/−1 across tokens; the signature sets bits with positive
    sums, stored as one signed long (bit 63 = the sign bit, two's
    complement — every consumer shifts-and-masks, so signedness is
    invisible).

    64 bits, not 32: at corpus scale 32-bit signatures saturate — real
    text concentrates token-hash bit statistics, so unrelated docs land
    within hamming 3 and the band join degenerates toward all-pairs
    (observed: 1.5M "near-dup" pairs from 50k random docs). Doubling the
    signature makes collisions meaningful again AND widens band keys from
    8 to 16 bits, shrinking band-bucket fan-out ~256×.

    Expressed as explode → 64 conditional sums → bit recombination: one
    shuffle keyed by doc_id, all JVM-side."""
    toks = df.select(
        id_col.alias("doc_id"),
        F.explode(F.array_distinct(F.split(text, " "))).alias("tok"),
    )
    md = F.md5(F.col("tok"))
    h_lo = F.conv(F.substring(md, 1, 8), 16, 10).cast("long")
    h_hi = F.conv(F.substring(md, 9, 8), 16, 10).cast("long")
    toks = toks.select("doc_id", h_lo.alias("h_lo"), h_hi.alias("h_hi"))
    bit_sums = []
    for b in range(SIMHASH_BITS):
        src, bit = ("h_lo", b) if b < 32 else ("h_hi", b - 32)
        bit_sums.append(
            F.sum(
                F.when(
                    F.expr(f"(shiftright({src}, {bit}) & 1) = 1"), 1
                ).otherwise(-1)
            ).alias(f"_b{b}")
        )
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(SIMHASH_BITS):
        # bit 63 contributes the sign bit: −2^63 in two's complement
        val = (1 << b) if b < 63 else -(1 << 63)
        term = F.when(F.col(f"_b{b}") > 0, F.lit(val)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.cast("long").alias("simhash"))


def simhash_band_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: (doc_a, doc_b, hamming) for every pair of
    signatures within ``max_hamming`` bits, found via band collision.

    The signature is split into ``n_bands`` equal bit slices; by
    pigeonhole, any pair differing in < n_bands bits agrees on at least
    one slice, so with max_hamming = n_bands − 1 the banding is
    RECALL-EXACT, not approximate — unlike MinHash-LSH there is no
    probabilistic miss. Candidates = docs sharing any (band, slice)
    key; verification = one integer xor + bit_count, no re-scan of the
    text. This is the cheap near-dedup tier: one shuffle to aggregate
    signatures, one equi-join on 8-bit slice keys (the d04 MinHash path
    re-verifies with true Jaccard; this one trades that fidelity for
    ~10× less compute). Skew note: a degenerate slice value shared by
    many docs (e.g. all-zero band from very short docs) concentrates one
    join key; at 100 TB, count band-key frequencies first and route hot
    keys through the exact pairwise check."""
    sigs = simhash(df, text, id_col)
    return banded_hamming_pairs(
        sigs, "simhash", max_hamming=max_hamming, n_bands=n_bands
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Generic banded hamming join over ANY 64-bit signature column
    (SimHash, perceptual hash, …): (doc_a, doc_b, hamming) for every
    pair of signatures within ``max_hamming`` bits, found via band
    collision. Pigeonhole: pairs differing in < n_bands bits share at
    least one band slice, so max_hamming = n_bands − 1 makes the banding
    recall-exact. Input contract: one row per doc_id with a long
    ``sig_col``."""
    assert 64 % n_bands == 0
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    stack_args = ", ".join(
        f"{b}, shiftright({sig_col}, {b * band_bits}) & {mask}"
        for b in range(n_bands)
    )
    # round-8 (guide §2.4/§5): the band table feeds BOTH sides of the
    # self-join and nothing reused the exchange (plan audit: 4 scans,
    # reused_exchanges=0 on d09) — the whole signature pipeline
    # (explode + 64 conditional sums) executed twice. Materialize the
    # doc-count-sized signature table once; at 100 TB that table is
    # n_docs x 16 bytes — exactly the lightweight proxy §8 says to
    # persist while the heavy text stays in the scan.
    sigs = _materialize(sigs)
    bands = sigs.select(
        "doc_id",
        sig_col,
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, bkey)"),
    )
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col(f"a.{sig_col}").alias("sig_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col(f"b.{sig_col}").alias("sig_b"),
        )
        .distinct()
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    n_planes: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for
    every pair with cosine(a, b) >= threshold, id_a < id_b.

    ``n_planes=0`` is the EXACT path: block-partitioned matrix multiply.
    Vectors are unit-normalized once, assigned to B = 8 blocks by
    ``id % 8``, and each of the B(B+1)/2 block-pairs becomes one
    ``applyInPandas`` group whose kernel is a single numpy matmul
    (Arrow-batched, BLAS-backed). All-pairs work is inherently O(n²/2)
    dots, but it is spread over block-pair tasks with an n·(B+1) row
    shuffle — the distributed-exact shape; at scale B should track
    #executors. Scores are returned raw and thresholded engine-side on
    the 6dp-rounded value, keeping parity with SQL ROUND semantics.

    ``n_planes>0`` is the APPROXIMATE scale path: both sides get a
    deterministic random-hyperplane signature (similarity.hyperplanes)
    and the pair join becomes an EQUI-join on the signature —
    shuffle-partitionable, linear in Σ bucket², with the cosine check
    applied inside buckets only. Recall < 1 by design (near-dups that
    straddle a hyperplane are missed); raise recall with fewer planes or
    multi-probe unioning.
    """
    from mbta_etl_spark.operators import similarity

    # norm materialized as its own column so the O(d) fold runs once per
    # vector, then a cheap per-element divide — not a fold per element
    e = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        similarity._norm(F.col(vec_col)).alias("_n"),
    ).select(
        "_id",
        F.transform(F.col("_v"), lambda x: x.cast("double") / F.col("_n")).alias(
            "_unit"
        ),
    )
    if n_planes == 0:
        return _exact_cosine_pairs_blocked(e, threshold, 8)

    dim = df.select(F.size(vec_col)).first()[0]
    planes = similarity.hyperplanes(dim, n_planes)
    e = e.withColumn("_sig", similarity.lsh_signature(F.col("_unit"), planes))
    a, b = e.alias("a"), e.alias("b")
    cond = (F.col("a._sig") == F.col("b._sig")) & (
        F.col("a._id") < F.col("b._id")
    )
    cos = F.aggregate(
        F.zip_with(F.col("a._unit"), F.col("b._unit"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _exact_cosine_pairs_blocked(
    e: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """All-pairs cosine over unit vectors via block-pair matmul groups.

    Row with block b is shipped to block-pairs (b, j>=b) as the A side and
    (i<=b, b) as the B side; group (gi, gj) then holds exactly the rows
    its matmul needs. Each unordered id pair lands in exactly one group
    (twice, mirrored, for diagonal groups — the id_a < id_b mask dedupes).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    blk = F.pmod(F.col("_id"), F.lit(n_blocks)).cast("int")
    a_side = e.select(
        "_id",
        "_unit",
        blk.alias("gi"),
        F.explode(F.sequence(blk, F.lit(n_blocks - 1))).alias("gj"),
        F.lit(0).alias("side"),
    )
    b_side = e.select(
        "_id",
        "_unit",
        F.explode(F.sequence(F.lit(0), blk)).alias("gi"),
        blk.alias("gj"),
        F.lit(1).alias("side"),
    )
    u = a_side.unionByName(b_side)

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("_rawcos", DoubleType()),
        ]
    )
    # kernel prefilters with a margin; the authoritative threshold check
    # happens engine-side on the 6dp-rounded score (SQL ROUND semantics)
    margin = threshold - 1e-6

    def _block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        gi, gj = int(key[0]), int(key[1])
        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "_rawcos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "_rawcos": "float64"}
            )
        ma = np.array(a["_unit"].tolist(), dtype=np.float64)
        mb = np.array(b["_unit"].tolist(), dtype=np.float64)
        ids_a = a["_id"].to_numpy()
        ids_b = b["_id"].to_numpy()
        cos = ma @ mb.T
        ii, jj = np.nonzero(cos >= margin)
        id_a, id_b, c = ids_a[ii], ids_b[jj], cos[ii, jj]
        if gi == gj:
            keep = id_a < id_b  # mirrored pairs: keep one orientation
        else:
            keep = id_a != id_b
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            id_a, id_b = lo, hi
        return pd.DataFrame(
            {"id_a": id_a[keep], "id_b": id_b[keep], "_rawcos": c[keep]}
        )

    pairs = u.groupBy("gi", "gj").applyInPandas(_block, schema=out_schema)
    return pairs.select(
        "id_a", "id_b", F.round("_rawcos", 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph (``doc_a``,
    ``doc_b`` edges): (node, component)
    where component is the MIN node id reachable — the cluster
    representative a dedup pipeline keeps while dropping the rest.

    Iterative min-label propagation: every node starts labeled with
    itself; each round pulls the minimum label across its neighbors;
    stop at fixpoint. Each round is two keyed shuffles (join + groupBy)
    over the EDGE set only, so cost is O(iterations · |E|), iterations ≈
    cluster diameter — near-dup clusters are shallow (dupes of a common
    original), so this converges in a handful of rounds. Lineage is
    truncated per round with localCheckpoint, the standard guard against
    plan blowup in iterative DataFrame algorithms; at much larger
    diameters you'd switch to pointer-doubling (large-star/small-star).

    Only nodes that appear in ``pairs`` are returned; singletons are
    their own component by definition and need no graph pass.
    """
    # materialize the pair list ONCE before branching — the symmetric
    # union reads it twice, and without this the whole upstream pair
    # pipeline (e.g. MinHash LSH) would execute once per branch
    p = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)
    edges = _materialize(
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # Fixpoint detection rides the SAME job that materializes the
    # round (guide §2.4 via observed metrics — r9 optimization): labels
    # are monotone non-increasing under min-propagation, so the label
    # SUM (exact decimal(38,0) — no int64 overflow, no float
    # association) is strictly decreasing until the fixpoint and equal
    # exactly there. Observing it on the localCheckpoint action
    # replaces the old per-round join + limit(1).count() job — one job
    # per round instead of two, identical final labels (one possible
    # extra no-op round only when pairs is EMPTY, where the empty sum
    # is None == initial None and the loop exits round 1 as before).
    prev_sum = None
    for _ in range(max_iter):
        nbr = edges.join(
            labels, edges["a"] == labels["node"]
        ).select(F.col("b").alias("node"), F.col("label"))
        obs = Observation()
        new_labels = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .observe(
                obs,
                F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        label_sum = obs.get["s"]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def incremental_dedup(
    batch: DataFrame,
    corpus_index: DataFrame,
    text: Column,
    id_col: Column,
) -> DataFrame:
    """Exact dedup of an incoming batch against a STANDING corpus: keep
    the min-id representative of each content hash within the batch,
    then anti-join the standing index of already-ingested hashes.

    This is the incremental-ingestion shape: work is O(batch), never
    O(corpus) — the standing corpus is represented only by its
    ``corpus_index`` (one ``sha`` column, maintained by appending each
    accepted batch's hashes), so a 100 TB corpus costs one pre-hashed
    join side, not a re-scan. The index side of the anti-join broadcasts
    while it fits; beyond that it's one hash-keyed shuffle of (sha)
    pairs — tiny relative to payloads. Contrast d01, which dedups a
    corpus against itself in one pass."""
    from pyspark.sql import Window

    hashed = batch.select(
        id_col.alias("doc_id"), F.sha2(text, 256).alias("sha")
    )
    w = Window.partitionBy("sha")
    batch_kept = (
        hashed.withColumn("_keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_keep")
    )
    return batch_kept.join(
        corpus_index.select("sha").distinct(), "sha", "left_anti"
    ).select("doc_id", "sha")


def normalized_dedup_groups(
    df: DataFrame, text: Column, id_col: Column
) -> DataFrame:
    """Dedup on a NORMALIZED content key: lowercase, strip every char
    outside [a-z0-9 ], collapse whitespace runs, trim — then group on
    md5 of the result. Catches the near-exact tier between d01 (byte
    equality) and d02 (token-multiset): case variants, punctuation
    variants, double-spacing. Same canonical shape as d01 — hash
    projection + one groupBy on the digest, skew-free by construction."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        df.select(F.md5(norm).alias("norm_key"), id_col.alias("_id"))
        .groupBy("norm_key")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("_id").alias("keep_doc_id"),
        )
    )


def minhash_estimate_audit(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
) -> DataFrame:
    """Sketch-trust audit for the MinHash ESTIMATE itself: over the LSH
    candidate pairs, compare the signature-agreement estimate
    (matching seeds / NUM_HASHES) against exact Jaccard — one summary row
    (n_pairs, MAE, max error, mean bias). d13 audits the BANDING's
    recall; this audits the ESTIMATOR's accuracy, the other half of
    trusting a sketch at 100 TB. Zero-intersection candidates (pure
    band-hash collisions) are kept via a left join — they are exactly
    the worst-case estimate errors an inner join would hide."""
    sh = _materialize(_shingle_table(df, text, id_col, k))
    wide = _minhash_wide(sh)
    n_bands = NUM_HASHES // BAND_SIZE
    band_keys = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"mh{b * BAND_SIZE + r}") for r in range(BAND_SIZE)],
            )
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, bk{b}" for b in range(n_bands))
    bands = wide.select("doc_id", *band_keys).select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, band_key)"),
    )
    ba, bb = bands.alias("ba"), bands.alias("bb")
    cand = (
        ba.join(bb, ["band", "band_key"])
        .filter(F.col("ba.doc_id") < F.col("bb.doc_id"))
        .select(
            F.col("ba.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"a{s}") for s in range(NUM_HASHES)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"b{s}") for s in range(NUM_HASHES)],
    )
    n_agree = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("int")
        for s in range(NUM_HASHES)
    )
    est = n_agree.cast("double") / F.lit(float(NUM_HASHES))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
    sha = sh.select(F.col("doc_id").alias("doc_a"), "sh64")
    shb = sh.select(F.col("doc_id").alias("doc_b"), "sh64")
    inter = (
        cand.join(sha, "doc_a")
        .join(shb, ["doc_b", "sh64"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b")
    )
    tru = F.coalesce(F.col("n_inter"), F.lit(0)).cast("double") / (
        F.col("size_a")
        + F.col("size_b")
        - F.coalesce(F.col("n_inter"), F.lit(0))
    )
    pairs = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", est.alias("est"))
        .join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", "est", tru.alias("tru"))
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    err = F.col("est") - F.col("tru")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r6(F.avg(F.abs(err))).alias("mae"),
        r6(F.max(F.abs(err))).alias("max_err"),
        r6(F.avg(err)).alias("mean_bias"),
    )


def dup_span_extents(
    df: DataFrame, text_col: Column, id_col: Column, w: int
) -> DataFrame:
    """Exact duplicated-substring spans (the ExactSubstr dedup family of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): find every ``w``-token window whose exact text occurs more
    than once in the corpus, then merge each document's duplicated
    window positions into maximal token-interval spans (gaps-and-islands
    in token space: a new span starts when consecutive duplicated
    positions are more than ``w`` apart). Returns one row per document
    that contains at least one duplicated span: total span count, the
    longest span, union token coverage, and the covered fraction.

    Scale shape: the corpus-wide occurrence count is a single groupBy on
    a 64-bit window hash (xxhash64 projected in the same stage as the
    window explode — the wide shuffle never carries text, the analog of
    the shingle kernel's sh64 discipline). The suffix-array of the paper
    is replaced by fixed-width hashed windows — the standard distributed
    relaxation: O(total tokens) rows, all hash-partitioned. The span
    merge runs per-document under one window partitioning (lag + running
    sum share the doc_id exchange). At 100 TB nothing is driver-side and
    no stage is quadratic.
    """
    from pyspark.sql import Window

    toks = F.split(text_col, " ")
    # the window build (O(n·w) array_join slices per doc) happens in
    # the scan stage before any exchange — on a single-split scan it
    # would run in ONE task; balance the slim token projection first
    # (r9; conditional, no-op on multi-split inputs — guide §2.6)
    from mbta_etl_spark.operators.core import balance_scan

    base = balance_scan(
        df.select(
            id_col.alias("doc_id"),
            toks.alias("_t"),
            F.size(toks).alias("n_tokens"),
        )
    )
    wins = base.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            F.when(
                F.col("n_tokens") >= w,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_tokens") - w),
                    lambda i: F.array_join(F.slice("_t", i + 1, w), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "_win"),
    ).select("doc_id", "n_tokens", "pos", F.xxhash64("_win").alias("_wh"))
    occ = (
        wins.groupBy("_wh")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ") >= 2)
    )
    dup = wins.join(occ, "_wh").select("doc_id", "n_tokens", "pos")
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(wspec)
    flagged = dup.select(
        "doc_id",
        "n_tokens",
        "pos",
        F.when(prev.isNull() | (F.col("pos") - prev > w), 1)
        .otherwise(0)
        .alias("_new"),
    )
    spans = (
        flagged.withColumn("span_id", F.sum("_new").over(wspec))
        .groupBy("doc_id", "n_tokens", "span_id")
        .agg((F.max("pos") - F.min("pos") + w).alias("_len"))
    )
    return (
        spans.groupBy("doc_id", "n_tokens")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
            F.max("_len").cast("long").alias("longest_span"),
            F.sum("_len").cast("long").alias("covered_tokens"),
        )
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "n_dup_spans",
            "longest_span",
            "covered_tokens",
            (
                F.floor(
                    F.col("covered_tokens") / F.col("n_tokens") * 1e6 + 0.5
                )
                / 1e6
            ).alias("cover_frac"),
        )
    )


def substring_dedup_pairs(
    df: DataFrame,
    text_col: Column,
    id_col: Column,
    w: int,
    min_len: int,
    max_win_occ: int,
) -> DataFrame:
    """Cross-document exact-substring dedup (the pairwise face of Lee et
    al. 2022's ExactSubstr; ``dup_span_extents`` is the per-document
    face): for every document pair sharing an exact token run of at
    least ``min_len`` tokens, emit the pair and its longest common
    substring length in tokens.

    The paper's suffix array is replaced by its standard distributed
    relaxation — fixed-width suffix PREFIXES: the positional ``w``-token
    window starting at token p is exactly the width-``w`` prefix of the
    suffix at p, so hash-partitioning on the window key is the
    distributed sort into suffix-prefix blocks, and the within-block
    neighbor compare is the equi-self-join below (never all-pairs).
    Two documents share a run of L >= w tokens iff they share L - w + 1
    CONSECUTIVE aligned windows, so the exact LCS length (down to
    resolution w) is recovered by a diagonal run merge: group matches by
    (pair, pa - pb), count consecutive positions, LCS = max run + w - 1.

    Scale shape: windows shuffle as 64-bit hashes (text never shuffles,
    the dup_span_extents discipline); the hashed window table is
    MATERIALIZED once (localCheckpoint) and feeds all three consumers —
    the occurrence census and both self-join sides — so the corpus is
    tokenized and windowed in one pass, not three. Blocks with more
    than ``max_win_occ`` occurrences are dropped before the self-join,
    so the quadratic per-block term is capped at max_win_occ² (a window
    in >N positions corpus-wide is boilerplate, the d03 df-cap
    argument); the run merge is one window partitioned by (pair,
    diagonal) whose partitions are bounded by document length. Hash
    collisions (xxhash64) perturb the OCCURRENCE table — a collision
    can add a false match row, or push a merged hash bucket past the
    occurrence cap and drop true pairs — and the DuckDB oracle replays
    the window TEXT itself, so a collision of either direction at test
    scale breaks the differential hash.
    """
    from pyspark.sql import Window

    toks = F.split(text_col, " ")
    base = df.select(
        id_col.alias("doc_id"), toks.alias("_t"), F.size(toks).alias("_n")
    )
    wins = base.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.col("_n") >= w,
                F.transform(
                    F.sequence(F.lit(0), F.col("_n") - w),
                    lambda i: F.array_join(F.slice("_t", i + 1, w), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "_win"),
    ).select("doc_id", "pos", F.xxhash64("_win").alias("_wh"))
    wins = _materialize(wins)
    keep = (
        wins.groupBy("_wh")
        .agg(F.count(F.lit(1)).alias("_occ"))
        .filter(F.col("_occ").between(2, max_win_occ))
        .select("_wh")
    )
    dup = wins.join(keep, "_wh")
    a = dup.select(
        "_wh", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa")
    )
    b = dup.select(
        "_wh", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb")
    )
    # match rows are unique by construction — wins has one row per
    # (doc, pos), and (doc_a, pa, diag) determines pb — so no distinct
    # is needed before the run merge (it would add a full shuffle over
    # the operator's largest intermediate for zero semantic effect)
    matches = (
        a.join(b, "_wh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            (F.col("pa") - F.col("pb")).alias("diag"),
            "pa",
        )
    )
    wspec = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = matches.select(
        "doc_a",
        "doc_b",
        "diag",
        (F.col("pa") - F.row_number().over(wspec)).alias("_grp"),
    )
    runlen = runs.groupBy("doc_a", "doc_b", "diag", "_grp").agg(
        F.count(F.lit(1)).alias("_r")
    )
    return (
        runlen.groupBy("doc_a", "doc_b")
        .agg((F.max("_r") + F.lit(w - 1)).cast("long").alias("lcs_tokens"))
        .filter(F.col("lcs_tokens") >= min_len)
    )


def canonical_selection(
    components: DataFrame,
    scored: DataFrame,
) -> DataFrame:
    """Canonical-document selection per duplicate cluster: the step a
    dedup pipeline runs AFTER clustering (connected_components) — keep
    the highest-quality member of each cluster, drop the rest, and
    account the token savings. (The reference stops at detection; a
    training-data pipeline needs the keep/drop decision too.)

    ``components`` is (doc_id, component) from connected_components;
    ``scored`` carries per-doc ``quality`` and ``n_tokens`` (e.g.
    text.quality_score output). Canonical = max quality, ties broken by
    min doc_id, so the pick is deterministic and replayable in SQL.

    Scale shape: one hash equi-join on doc_id (components is the dup
    subgraph only — tiny next to the corpus, broadcastable), one
    row_number window partitioned by component (near-dup clusters are
    small, so no window skew), one final aggregation keyed by component.
    No driver state, no collect; every stage is a standard keyed shuffle
    that AQE can coalesce.
    """
    from pyspark.sql import Window

    ranked = components.join(
        scored.select(
            "doc_id",
            F.col("quality").alias("_q"),
            F.col("n_tokens").cast("long").alias("_tok"),
        ),
        "doc_id",
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.col("_q").desc(), F.col("doc_id").asc()
            )
        ),
    )
    return ranked.groupBy("component").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("canonical_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("_q"))).alias("canonical_quality"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("_tok").cast("long").alias("tokens_total"),
        F.sum(F.when(F.col("rn") > 1, F.col("_tok")).otherwise(F.lit(0)))
        .cast("long")
        .alias("tokens_saved"),
    )


def chunk_dedup_census(
    df: DataFrame,
    text: Column,
    id_col: Column,
    window: int,
    stride: int,
) -> DataFrame:
    """Chunk-level dedup census over a RAG chunk index: slide the same
    overlap windows sampling.overlap_chunks defines, hash each chunk's
    token content, and report every chunk that appears more than once
    corpus-wide — identical chunks arriving from near-dup documents are
    the dominant redundancy in a retrieval index, and deduping them
    shrinks both the index and the embedding bill. keep = the min
    doc_id copy; tokens_redundant counts what dropping the rest saves.

    Scale shape: chunk expansion is the shuffle-free explode; the ONLY
    wide operation is the groupBy on the 16-byte content hash (uniform
    by construction, partial-aggregating) — the shuffle carries hashes
    and 8-byte ids, never chunk text.
    """
    toks = F.split(text, " ")
    n = F.size(toks).cast("long")
    n_chunks = F.when(n <= window, F.lit(1).cast("long")).otherwise(
        F.floor((n - window + stride - 1) / stride).cast("long") + 1
    )
    base = df.select(
        id_col.alias("doc_id"), toks.alias("_toks"), n.alias("n"),
        n_chunks.alias("n_chunks"),
    ).withColumn(
        "chunk_idx",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_chunks") - 1)),
    )
    start = F.col("chunk_idx") * stride
    end = F.least(start + window, F.col("n"))
    clen = (end - start).alias("chunk_len")
    chunk_text = F.concat_ws(
        " ", F.slice(F.col("_toks"), (start + 1).cast("int"), (end - start).cast("int"))
    )
    chunks = base.select(
        "doc_id",
        "chunk_idx",
        clen,
        F.md5(chunk_text).alias("chunk_sha"),
    )
    return (
        chunks.groupBy("chunk_sha")
        .agg(
            F.max("chunk_len").alias("chunk_len"),
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            ((F.count(F.lit(1)) - 1) * F.max("chunk_len"))
            .cast("long")
            .alias("tokens_redundant"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def bloom_decontam_audit(
    train: DataFrame,
    test: DataFrame,
    text: Column,
    id_col: Column,
    group_col: str,
    k: int = 8,
    m: int = 4096,
    n_hash: int = 3,
) -> DataFrame:
    """The bloom-filter pre-screen ``decontaminate_ngrams``'s docstring
    promises, with its false-positive rate MEASURED instead of assumed:
    the held-out set's shingle keys are folded into an m-bit bloom
    (n_hash universal hashes over the 32-bit md5 prefix — the same
    Carter-Wegman family as MinHash), every train shingle is probed
    against it, and the exact semi-join runs alongside, so each source
    reports n_grams / exact hits / bloom hits / false positives / FPR.
    At 100 TB the bloom replaces a test-key broadcast that no longer
    fits: O(m) bits regardless of benchmark size, merge = bitwise OR
    (here the set-bit relation, unioned DISTINCT — the same object),
    and the audit tells you what the m you picked actually costs in
    needless recheck work.

    Shape: the bloom's set-bit table (≤ m rows) collapses to ONE
    collect_set row that rides a broadcast nested-loop join onto the
    train shingle table — three array_contains tests per shingle, no
    extra shuffle; the exact probe is the same broadcast semi d08 uses.
    The only corpus-sized aggregations are the per-source counts.
    Invariant (pinned by test + the n_fp column): bloom hits ⊇ exact
    hits, because an exact-matching key sets its own bits.
    """
    test_sh = (
        _shingle_table(test, text, id_col, k)
        .select("sh64")
        .distinct()
        .localCheckpoint(eager=True)  # reused by bits AND the exact probe
    )
    x_test = F.expr("sh64 DIV 268435456")
    positions = [
        ((F.lit(_mh_a(j)) * x_test + F.lit(_mh_b(j))) % F.lit(MINHASH_PRIME))
        % F.lit(m)
        for j in range(n_hash)
    ]
    bits = (
        test_sh.select(F.explode(F.array(*positions)).alias("bit"))
        .distinct()
        .agg(F.collect_set("bit").alias("bits"))
    )
    train_sh = _shingle_table(train, text, id_col, k)
    x = F.expr("sh64 DIV 268435456")
    probe = train_sh.crossJoin(F.broadcast(bits))
    bloom_hit = None
    for j in range(n_hash):
        p = ((F.lit(_mh_a(j)) * x + F.lit(_mh_b(j))) % F.lit(MINHASH_PRIME)) % F.lit(m)
        t = F.array_contains(F.col("bits"), p)
        bloom_hit = t if bloom_hit is None else (bloom_hit & t)
    flagged = probe.join(
        F.broadcast(test_sh.withColumn("_t", F.lit(1))), "sh64", "left"
    ).select(
        "doc_id",
        F.when(bloom_hit, 1).otherwise(0).alias("is_bloom"),
        F.when(F.col("_t").isNotNull(), 1).otherwise(0).alias("is_exact"),
    )
    groups = train.select(id_col.alias("doc_id"), F.col(group_col).alias("grp"))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    # shingle-level rows collapse per doc BEFORE touching the group
    # column: the only shuffles over gram-sized data are this map-side-
    # combinable aggregate; the group join and re-aggregate run on
    # doc-level rows.
    per_doc = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("d_grams"),
        F.sum("is_exact").alias("d_exact"),
        F.sum("is_bloom").alias("d_bloom"),
    )
    agg = (
        per_doc.join(groups, "doc_id")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("d_grams").alias("n_grams"),
            F.sum("d_exact").alias("n_exact"),
            F.sum("d_bloom").alias("n_bloom"),
        )
    )
    denom = (F.col("n_grams") - F.col("n_exact")).cast("double")
    return agg.select(
        F.col("grp").alias(group_col),
        "n_docs",
        "n_grams",
        "n_exact",
        "n_bloom",
        (F.col("n_bloom") - F.col("n_exact")).alias("n_fp"),
        r6(
            (F.col("n_bloom") - F.col("n_exact")).cast("double")
            / F.nullif(denom, F.lit(0.0))
        ).alias("fpr"),
    ).orderBy(group_col)


def embedding_decontaminate(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    label_col: str,
    eval_label: int,
    threshold: float,
) -> DataFrame:
    """Embedding-space decontamination: flag every TRAIN vector whose
    max cosine against any EVAL-set vector reaches ``threshold`` — the
    semantic complement of d08/d30's n-gram decontamination (paraphrased
    benchmark leakage that shares no 13-gram still lands next to the
    eval item in embedding space). Census per train label: size, flagged
    count/fraction, and the peak cosine observed.

    Shape: the eval set is benchmark-sized (thousands of items, never
    corpus-sized), so it rides each task as an O(|eval|·d) numpy matrix
    (the bounded-driver-state pattern k-means centroids use) and the
    scan over train is ONE Arrow-batched mapInPandas whose kernel is a
    single BLAS matmul + row-max — zero joins, zero shuffle before the
    label rollup, ~100x the per-pair throughput of the interpreted-HOF
    nested-loop join it replaces (r4: 3.3 s → sub-second at sf0.1).
    Both sides are unit-normalized once (O(d) fold per vector, not per
    pair). At larger eval sets the same operator composes with s02's
    hyperplane signatures to prefilter candidate pairs, exactly as d06's
    scale path does. The kernel emits the RAW per-row peak; the engine
    rounds it to 6dp (oracle ROUND parity — rounding is monotone, so
    max-of-rounded == rounded-max and the aggregation order is free)."""
    import numpy as np
    import pandas as pd

    from mbta_etl_spark.operators import similarity

    # zero-norm guard doubles as the ANSI-mode guard: under Spark 4's
    # default ANSI SQL a 0/0 in the transform raises DIVIDE_BY_ZERO
    # instead of producing null — gate the division behind the norm
    # check and let degenerate vectors become a NULL unit vector (the
    # kernel maps those to a NULL peak)
    def unit(c):
        nrm = similarity._norm(c)
        return F.when(
            nrm > 0,
            F.transform(similarity._as_double(c), lambda x: x / nrm),
        )

    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("label"),
        unit(F.col(vec_col)).alias("_u"),
    )
    # benchmark-sized by contract — bounded task-side state, same
    # O(C·d) argument as the k-means centroid collect. Eval-side
    # degenerates get the same treatment as train-side ones: a NULL
    # unit vector (zero-norm/NULL embedding), a ragged length, or a
    # non-finite element would either crash np.array or poison every
    # train row's peak through the matmul (one NaN column turns
    # max(axis=1) into NaN fleet-wide), so they are dropped from the
    # comparison matrix — matching the old broadcast-join plan, whose
    # null cosines were simply ignored by F.max.
    def _finite_vec(v, dim):
        return (
            v is not None
            and (dim is None or len(v) == dim)
            and not any(
                x is None or x != x or x in (float("inf"), float("-inf"))
                for x in v
            )
        )

    _raw_eval = [
        r._u
        for r in base.filter(F.col("label") == eval_label)
        .select("_u")
        .collect()
    ]
    _dim = next((len(v) for v in _raw_eval if _finite_vec(v, None)), None)
    eval_vecs = [v for v in _raw_eval if _finite_vec(v, _dim)]
    tr = base.filter(F.col("label") != eval_label)
    if not eval_vecs:
        # no eval set -> no cosines -> empty census, the same shape the
        # old broadcast-join-with-empty-side plan produced
        peaks = tr.select(
            "label", F.lit(0.0).alias("peak")
        ).limit(0)
    else:
        emat = np.array(eval_vecs, dtype=np.float64)

        def _peaks(batches):
            dim = emat.shape[1]
            for pdf in batches:
                if pdf.empty:
                    continue
                # degenerate vectors (NULL embedding, or zero-norm ->
                # unit() emits null elements) must degrade to a NULL
                # peak like the old join plan's null cosine — never a
                # ragged-array crash, never a NaN that Spark would sort
                # ABOVE the threshold
                vecs = pdf["_u"].tolist()
                valid = np.array(
                    [
                        v is not None
                        and len(v) == dim
                        and not any(x is None for x in v)
                        for v in vecs
                    ]
                )
                out = np.full(len(vecs), np.nan)
                if valid.any():
                    m = np.array(
                        [v for v, ok in zip(vecs, valid) if ok],
                        dtype=np.float64,
                    )
                    out[valid] = (m @ emat.T).max(axis=1)
                yield pd.DataFrame({"label": pdf["label"], "_raw": out})

        label_t = tr.schema["label"].dataType.simpleString()
        raw = tr.mapInPandas(_peaks, schema=f"label {label_t}, _raw double")
        r6p = F.round("_raw", 6)
        peaks = raw.select(
            "label",
            F.when(F.isnan(r6p), F.lit(None)).otherwise(r6p).alias("peak"),
        )
    flagged = (F.col("peak") >= threshold).cast("long")
    return (
        peaks.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(flagged).alias("n_flagged"),
            F.max("peak").alias("peak_cosine"),
        )
        .select(
            "label",
            "n_train",
            "n_flagged",
            (
                F.floor(
                    F.col("n_flagged").cast("double")
                    / F.col("n_train").cast("double")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("flag_frac"),
            "peak_cosine",
        )
        .orderBy("label")
    )


def soft_dedup_weights(
    df: DataFrame,
    text: Column,
    id_col: Column,
    source_col: str,
    size_col: str,
) -> DataFrame:
    """SoftDeDup-style downweighting census: instead of DELETING exact
    duplicates (d01's hard policy), every copy keeps weight 1/n_copies —
    repeated content contributes one document's worth of gradient mass
    in total, however many times it was crawled. Per source: raw vs
    effective document counts and raw vs effective char mass, plus the
    duplication tax (1 - effective/raw) — the number that tells you how
    much of a source's apparent volume is repetition.

    Exactness: the per-doc weight is pinned ONCE as an integer —
    ``w6 = FLOOR(1e6 / n_copies + 0.5)`` — and every downstream
    accumulation (Σw6, Σ n_chars·w6) is an int64 sum on that grid:
    order-independent under any partitioning, with the only doubles
    appearing in the final three pinned divisions.

    Shape: one sha-keyed groupBy for group sizes (d01's envelope), one
    equi-join of the size back onto the corpus by the same sha key
    (co-partitioned — Catalyst reuses the shuffle), one
    map-side-combinable source census. No step holds more than a
    source-count-sized result."""
    keyed = df.select(
        F.sha2(text, 256).alias("text_sha"),
        F.col(source_col).alias("source"),
        F.col(size_col).alias("_chars"),
    )
    sizes = keyed.groupBy("text_sha").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    w6 = F.floor(F.lit(1e6) / F.col("n_copies") + F.lit(0.5)).cast("long")
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    per_doc = keyed.join(sizes, "text_sha").select(
        "source", "_chars", w6.alias("w6")
    )
    eff_docs = F.col("w_sum").cast("double") / F.lit(1e6)
    eff_chars = F.col("cw_sum").cast("double") / F.lit(1e6)
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_chars").alias("n_chars"),
            F.sum("w6").alias("w_sum"),
            F.sum(F.col("_chars") * F.col("w6")).alias("cw_sum"),
        )
        .select(
            "source",
            "n_docs",
            "n_chars",
            r6(eff_docs).alias("eff_docs"),
            r6(eff_chars).alias("eff_chars"),
            r6(
                F.lit(1.0)
                - F.col("cw_sum").cast("double")
                / (F.col("n_chars").cast("double") * F.lit(1e6))
            ).alias("dup_tax"),
        )
        .orderBy("source")
    )


def dup_aware_sample_census(
    df: DataFrame,
    text: Column,
    id_col: Column,
    source_col: str,
) -> DataFrame:
    """Dedup-aware deterministic subsampling census: each copy of an
    exact-dup group survives with probability 1/n_copies (keep iff
    ``bucket(id)·n_copies < DENOM``, the salted-md5 bucket sampling
    uses everywhere), so each group contributes ~one copy in
    expectation — the sampling-time realization of d32's SoftDeDup
    weights (downsample duplicates instead of carrying per-row
    weights into training). Per source: raw docs, kept docs, the
    expected keep mass (Σ 1/n on the 1e-6 grid), and kept/expected —
    the calibration check that the hash thresholding actually delivers
    the designed rate.

    Shape: d01's sha-keyed groupBy + the same-key join back (one
    shuffle, reused), then a map-side-combinable census; the keep
    decision is pure per-row integer arithmetic on any partitioning —
    no RNG, so re-runs keep the SAME docs (the property production
    reruns need)."""
    from mbta_etl_spark.operators.sampling import DENOM, _bucket

    keyed = df.select(
        F.sha2(text, 256).alias("text_sha"),
        F.col(source_col).alias("source"),
        id_col.alias("_id"),
    )
    sizes = keyed.groupBy("text_sha").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    w6 = F.floor(F.lit(1e6) / F.col("n_copies") + F.lit(0.5)).cast("long")
    keep = (
        _bucket(F.col("_id"), "dupsample") * F.col("n_copies") < F.lit(DENOM)
    ).cast("long")
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        keyed.join(sizes, "text_sha")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(keep).alias("n_kept"),
            F.sum(w6).alias("_w_sum"),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            (F.col("_w_sum").cast("double") / F.lit(1e6)).alias("expected"),
            r6(
                F.col("n_kept").cast("double") * F.lit(1e6)
                / F.col("_w_sum").cast("double")
            ).alias("kept_vs_expected"),
        )
        .orderBy("source")
    )


def pointer_doubling_components(pairs: DataFrame, max_iter: int = 10) -> DataFrame:
    """Connected components by min-label propagation WITH pointer
    jumping — the O(log diameter) variant ``connected_components``'s
    docstring defers to for deep graphs, executed: each round first
    pulls the minimum neighbor label (as in d07), then SHORTCUTS by
    relabeling every node with its label's label (l(v) ← l(l(v)), the
    path-halving step), so label distances halve per round instead of
    shrinking by one hop. Output is identical to
    ``connected_components`` — (node, component = min reachable id) —
    and the d07 oracle verifies it as such.

    Cost per round: the same two keyed shuffles as plain propagation
    plus ONE label-on-label self-join (all on edge/label-sized tables,
    never the corpus), with per-round localCheckpoint lineage guards;
    rounds ≈ log₂(diameter) instead of diameter. On shallow near-dup
    clusters both converge fast — on web-scale chains this is the one
    that finishes."""
    p = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=True)
    edges = _materialize(
        p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # same observed-metrics fixpoint as connected_components (labels
    # monotone non-increasing under min-pull + path-halving): the exact
    # decimal label sum rides the checkpoint job, replacing the old
    # join + limit(1).count() round — one job per round instead of two
    prev_sum = None
    for _ in range(max_iter):
        # 1) neighbor-min pull (one join + one groupBy, edge-sized)
        nbr = edges.join(labels, edges["a"] == labels["node"]).select(
            F.col("b").alias("node"), F.col("label")
        )
        pulled = (
            labels.union(nbr).groupBy("node").agg(F.min("label").alias("label"))
        )
        # 2) pointer jump: l(v) <- l(l(v)) — path halving
        jump_src = pulled.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        jumped = (
            pulled.join(jump_src, pulled["label"] == jump_src["_jn"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_jl"), F.col("label"))
                ).alias("label"),
            )
        )
        obs = Observation()
        new_labels = jumped.observe(
            obs, F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        labels = new_labels
        label_sum = obs.get["s"]
        if label_sum == prev_sum:
            break
        prev_sum = label_sum
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def bbit_minhash_audit(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """b-bit MinHash compression audit (Li & Koenig 2010): for every
    verified near-dup pair, the full-signature Jaccard estimate
    (matching minhashes / NUM_HASHES) next to the 1-bit estimate
    (2·bit_agreement − 1, the unbiased correction for b=1) and the true
    Jaccard — the measured answer to "how much signature can we throw
    away": 1 bit per hash is a 32x signature shrink, paid for in
    estimator variance that this audit quantifies on the real corpus.

    Shape: the pair pipeline and the wide signature share ONE persisted
    shingle table; estimates are a CASE-sum over the 2·NUM_HASHES wide
    columns after two doc-keyed joins — pure JVM, no extra shuffle
    beyond the joins."""
    sh = _materialize(_shingle_table(df, text, id_col, k))
    pairs = minhash_lsh_pairs(df, text, id_col, k=k, threshold=threshold, shingles=sh)
    wide = _minhash_wide(sh)
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{s}").alias(f"_a{s}") for s in range(NUM_HASHES)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{s}").alias(f"_b{s}") for s in range(NUM_HASHES)],
    )
    j = pairs.join(wa, "doc_a").join(wb, "doc_b")
    full = sum(
        F.when(F.col(f"_a{s}") == F.col(f"_b{s}"), 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    bit = sum(
        F.when(F.col(f"_a{s}") % 2 == F.col(f"_b{s}") % 2, 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    n = F.lit(float(NUM_HASHES))
    _r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return j.select(
        "doc_a",
        "doc_b",
        "jaccard",
        full.cast("long").alias("n_full_match"),
        bit.cast("long").alias("n_bit_match"),
        _r6(full.cast("double") / n).alias("est_full"),
        _r6(F.lit(2.0) * bit.cast("double") / n - F.lit(1.0)).alias(
            "est_1bit"
        ),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every POSITIONAL token k-gram,
    slide a window of ``w`` consecutive gram hashes, keep each window's
    minimum, distinct the kept values. Guarantees: any shared substring
    of at least w+k-1 tokens produces at least one shared fingerprint
    (the detection floor is a tunable, unlike one-permutation MinHash),
    and the fingerprint density is ~2/(w+1) of the grams — a principled
    storage/recall dial for plagiarism-style containment detection.

    All selection is JVM higher-order functions on the per-doc gram
    array (transform + slice + array_min + array_distinct) — the plan is
    a pure projection until the (doc_id, fp) explode, so at 100 TB the
    fingerprint stream is the ONLY thing that leaves the scan stage.
    Short docs degrade like the shingle contract: fewer grams than a
    window -> one whole-array minimum; fewer tokens than a gram -> one
    whole-text hash."""
    from mbta_etl_spark.operators.core import balance_scan

    # round-8: gram hashing + window minima are pure scan-side HOF
    # projections with NO exchange before the fp explode — on a single-
    # row-group local scan the whole pass ran in one task (measured
    # 1.7 -> 0.29 s at sf0.1); conditional no-op on parallel scans.
    # Balance BEFORE computing grams so only (doc_id, text) moves.
    base = balance_scan(
        df.select(id_col.alias("doc_id"), text.alias("_text"))
    )
    t = F.col("_text")
    toks = F.split(t, " ")
    n = F.size(toks)
    gram_hash = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 15), 16, 10
    ).cast("long")
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: gram_hash(F.array_join(F.slice(toks, i, k), " ")),
        ),
    ).otherwise(F.array(gram_hash(t)))
    staged = base.select("doc_id", grams.alias("_gh"))
    ng = F.size("_gh")
    fps = F.when(
        ng >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), ng - (w - 1)),
                lambda j: F.array_min(F.slice(F.col("_gh"), j, w)),
            )
        ),
    ).otherwise(F.array(F.array_min("_gh")))
    return staged.select(
        "doc_id", F.explode(fps).alias("fp")
    )


def winnowing_pairs(
    df: DataFrame,
    text: Column,
    id_col: Column,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 50,
) -> DataFrame:
    """Near-dup/containment candidate pairs by shared winnowed
    fingerprints: docs sharing >= ``min_shared`` fingerprints, with the
    shared count. ``max_fp_df`` drops fingerprints present in more than
    N docs before the self-join — the same quadratic-term cap as d03's
    shingle-df cut, so one boilerplate fingerprint can't explode the
    join at corpus scale."""
    fp = _materialize(winnowing_fingerprints(df, text, id_col, k=k, w=w))
    if max_fp_df is not None:
        rare = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_fp_df)
            .select("fp")
        )
        fp = fp.join(rare, "fp")
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, "fp")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
