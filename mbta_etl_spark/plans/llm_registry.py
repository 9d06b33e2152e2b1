"""LLM-data-pipeline query registry: dedup, similarity search, text
analysis, multimodal — bound to the ``documents`` / ``embeddings``
testdata tables, each with a bit-equivalent DuckDB oracle (generated
programmatically where the SQL is repetitive, e.g. SimHash bit sums).

Portability contract with the oracles: tokenize with split-on-space, hash
with md5/sha256 (identical hex in both engines), divide longs to get
doubles, round floats to 6dp before comparison/thresholding.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbta_etl_spark.operators import core, dedup, multimodal, similarity, text
from mbta_etl_spark.operators.dedup import SIMHASH_BITS
from mbta_etl_spark.operators.text import EN_STOPWORDS, LANG_PROFILES
from mbta_etl_spark.sources.tables import load_table

EMB_DIM = 64
JACCARD_K = 3
JACCARD_THRESHOLD = 0.5
# df cap for the exact-Jaccard path (d03): shingles appearing in more
# than this many docs are dropped before the self-join — the quadratic
# candidate term is bounded by sum(df^2) over surviving shingles, so the
# cap is what keeps exact all-pairs usable beyond toy scale. Bound low
# enough to be demonstrably active on the synthetic corpus (max df ~7-9).
JACCARD_MAX_SHINGLE_DF = 5
FP_K = 5
QUERY_VEC_ID = 0
TOPK = 10
LABEL_TOPK = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        _emb(spark, sf_dir)
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding")
        .collect()
    )
    return [float(x) for x in row[0]["embedding"]]


# --- text analysis ---------------------------------------------------------


def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir), F.col("text"), F.col("doc_id"))


def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir), F.col("text"), F.col("doc_id"))


def t03_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), F.col("lang")
    )


def t04_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), k=FP_K
    )


def t05_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer count next to the whitespace count — the two
    token budgets a training-data pipeline tracks. Pure JVM regex."""
    from mbta_etl_spark.functions import token_count_bpe

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count_bpe(F.col("text")).alias("n_bpe_tokens"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_ws_tokens"),
    )


# --- dedup -----------------------------------------------------------------


def d01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    )


def d02_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.fingerprint_dedup_groups(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    )


def d03_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
    )


CONTAINMENT_THRESHOLD = 0.8


def d10_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment |sub∩super|/|sub| ≥ 0.8 — subset/quote
    duplication the symmetric Jaccard (d03) can't see."""
    return dedup.ngram_containment_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=CONTAINMENT_THRESHOLD,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
    )


def d04_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
    )


_G04_RECURSION = """
    WITH RECURSIVE roots AS (
      SELECT DISTINCT doc_a AS root FROM {pairs}
      WHERE doc_a NOT IN (SELECT doc_b FROM {pairs})
    ),
    reach(root, node, hops) AS (
      SELECT root, root, CAST(0 AS BIGINT) FROM roots
      UNION ALL
      SELECT r.root, p.doc_b, r.hops + 1
      FROM reach r JOIN {pairs} p ON r.node = p.doc_a
    ),
    dist AS (
      SELECT root, node, MIN(hops) AS depth FROM reach GROUP BY root, node
    )
    SELECT root, COUNT(*) - 1 AS n_reachable, MAX(depth) AS max_depth
    FROM dist GROUP BY root
"""


def g04_dup_chain_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE frontier expansion (Spark 4.1 ``WITH RECURSIVE``):
    per dup-cluster root, the number of transitively reachable docs and
    the longest min-hop chain, walked over d04's LSH pair graph. The
    pair graph is a DAG by construction (doc_a < doc_b in every pair),
    so UNION ALL recursion terminates; MIN(hops) collapses multi-path
    duplicates. The SAME recursion text runs on DuckDB — exact
    cross-engine recursive-query parity.

    Scale shape: Spark executes the recursion as iterated joins against
    the previous frontier — fine for the shallow, sparse dup DAG
    (depth ≤ cluster diameter). For cyclic or deep graphs the scale path
    remains d07's bounded label propagation with localCheckpoint
    rounds; this entry is the declarative tier."""
    # materialize the pair graph ONCE before recursing — the recursion
    # references the view every iteration, and an unmaterialized view
    # would re-run the whole LSH pipeline per frontier step
    pairs = (
        dedup.minhash_lsh_pairs(
            _docs(spark, sf_dir),
            F.col("text"),
            F.col("doc_id"),
            k=JACCARD_K,
            threshold=JACCARD_THRESHOLD,
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    pairs.createOrReplaceTempView("g04_pairs")
    return spark.sql(_G04_RECURSION.format(pairs="g04_pairs"))


def d05_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir), F.col("text"), F.col("doc_id"))


SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3  # = SIMHASH_BANDS - 1 → banding is recall-exact


def d09_simhash_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_band_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        max_hamming=SIMHASH_MAX_HAMMING,
        n_bands=SIMHASH_BANDS,
    )


def d07_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash-LSH pair
    graph (iterative min-label propagation; oracle replays it with a
    recursive CTE). The component id is the cluster representative a
    dedup pipeline keeps."""
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
    )
    return dedup.connected_components(pairs)


COSINE_DUP_THRESHOLD = 0.4  # synthetic embeddings: max pairwise cosine ~0.51


def d06_embed_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact all-pairs baseline (oracle-checked);
    the LSH-bucketed scale path of the same operator is covered by tests."""
    return dedup.embedding_cosine_pairs(
        _emb(spark, sf_dir), "embedding", "vec_id", threshold=COSINE_DUP_THRESHOLD
    )


# --- similarity search -----------------------------------------------------


def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vector(spark, sf_dir)
    return similarity.cosine_topk(
        _emb(spark, sf_dir), "embedding", "vec_id", q, k=TOPK, exclude_id=QUERY_VEC_ID
    )


def s02_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vector(spark, sf_dir)
    return similarity.lsh_topk(
        _emb(spark, sf_dir), "embedding", "vec_id", q, k=TOPK, exclude_id=QUERY_VEC_ID
    )


def s03_label_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pairwise_topk_per_label(
        _emb(spark, sf_dir), "embedding", "vec_id", k=LABEL_TOPK
    )


# --- multimodal ------------------------------------------------------------


IVF_NPROBE = 2


def s05_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: stride-sampled coarse quantizer inlined as literals (zero
    extra shuffle for assignment), nprobe-cell pruned scan, exact re-rank.
    Fully deterministic, so the DuckDB oracle replays the identical IVF."""
    q = _query_vector(spark, sf_dir)
    return similarity.ivf_topk(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        q,
        k=TOPK,
        nprobe=IVF_NPROBE,
        exclude_id=QUERY_VEC_ID,
    )


KMEANS_ITER = 2


def k01_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd's k-means on the embedding corpus: stride-
    sampled init, fixed 2 iterations, 6dp-rounded centroids between
    rounds — fully replayable by the DuckDB oracle CTE chain."""
    return similarity.kmeans_fit_predict(
        _emb(spark, sf_dir), "embedding", "vec_id", n_iter=KMEANS_ITER
    )


def s04_norm_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF surface (applyInPandas + numpy), oracle-
    checked: per-label z-score of embedding norms."""
    return similarity.norm_zscore_per_label(_emb(spark, sf_dir), "embedding", "vec_id")


def s06_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Arrow-batched Pandas UDF surface (@pandas_udf + numpy),
    oracle-checked: per-vector L2 norm."""
    from mbta_etl_spark.functions import norm_pandas_udf

    l2 = norm_pandas_udf()
    return _emb(spark, sf_dir).select(
        "vec_id", F.round(l2(F.col("embedding")), 6).alias("norm")
    )


def c01_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composition: quality filter → exact dedup → MinHash-LSH
    near-dedup → surviving docs with token stats. One Catalyst plan."""
    from mbta_etl_spark.pipeline.corpus import clean_corpus

    return clean_corpus(_docs(spark, sf_dir))


def m01_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.binary_meta(binary)


def m02_fake_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked mapInPandas decode path: the fake dims are digest
    bytes of md5(payload), which the SQL oracle replays as hex pairs of
    md5(text) (payload = utf-8 of text)."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.fake_image_features(binary)


def m03_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked one-to-many mapInPandas expansion (video-frame
    sampling shape): byte-slice checksums replay as md5 over substr —
    valid because the synthetic corpus is pure ASCII (byte slicing ==
    char slicing); the operator itself is bytes-defined."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.fake_frame_samples(binary)


def m04_fake_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→binary kernel (thumbnailing shape): fake-decode dims,
    integer aspect-fit, synthesized output payload; emits the new
    metadata incl. output checksum, all replayable in SQL."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.fake_resize(binary, target=RESIZE_TARGET)


def m10_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip: synthesize on-spec PNG bytes per doc_id
    (dimensions and pixels are integer functions of the id), ship them
    through a binary column, decode with the pure-stdlib PNG decoder
    (functions/codecs.py: signature, IHDR, zlib inflate, unfiltering)
    and emit header fields + exact integer pixel sum. The oracle
    recomputes all of it analytically — a hash match proves the decoder
    actually parsed the container. Scale shape: two chained mapInPandas
    stages, no shuffle, partitioning inherited from the scan."""
    pngs = multimodal.synthetic_png_table(_docs(spark, sf_dir), "doc_id")
    return multimodal.decode_image(pngs)


def m15_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec round-trip: baseline grayscale JPEG bytes per
    doc_id (functions/codecs.py: Annex-K tables, Huffman entropy coding,
    FDCT/IDCT), decoded by the same dependency-free decoder Pillow would
    replace. The payloads are block-constant even-valued images, chosen
    because that makes the LOSSY pipeline's output analytically exact
    (see synthetic_jpeg_table) — so the oracle recomputes the decoded
    pixel sum with integer SQL and a hash match proves the decoder
    really parsed markers, Huffman-decoded the scan, dequantized and
    inverse-transformed. Same no-shuffle two-stage mapInPandas shape as
    m10."""
    jpgs = multimodal.synthetic_jpeg_table(_docs(spark, sf_dir), "doc_id")
    return multimodal.decode_image(jpgs)


def m11_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec round-trip for audio: RIFF/WAVE PCM16 payloads built
    from the row id, decoded by the stdlib WAV parser (chunk walk, fmt
    validation, frame parse); emits rate / sample count / exact integer
    sum + sum-of-squares. Same analytic-oracle design as m10."""
    wavs = multimodal.synthetic_wav_table(_docs(spark, sf_dir), "doc_id")
    return multimodal.decode_audio(wavs)


RESIZE_TARGET = 128


N_QUERY_BLOCK = 5  # s08: vec_ids [0, N) form the broadcast query block


def s08_multi_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched ANN serving: 5 query vectors broadcast against the corpus
    in one scan; per-query top-3 via rank window over scored pairs."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_BLOCK).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return similarity.multi_query_topk(
        emb, "embedding", "vec_id", queries, k=LABEL_TOPK
    )


ZIPF_TOP = 100
CURRICULUM_SHARDS = 4


def c12_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: rank the corpus by the t02 quality score and
    cut it into equal-size shards, easiest (highest quality) first —
    shard 1 feeds early training, later shards phase in. ntile over the
    quality ordering (doc_id tiebreak → deterministic); the single
    global window runs on (doc_id, quality) pairs only, never text.
    At 100 TB swap ntile's global sort for range-partitioned bucketing
    on a quality quantile sketch (approx_percentile boundaries)."""
    from pyspark.sql import Window

    q = text.quality_score(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    ).select("doc_id", "quality")
    w = Window.orderBy(F.desc("quality"), F.asc("doc_id"))
    return q.select(
        "doc_id", "quality", F.ntile(CURRICULUM_SHARDS).over(w).alias("shard")
    )


def t13_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rank-frequency spectrum: the top tokens with rank, count,
    and cumulative corpus coverage — the Zipf diagnostic a tokenizer/
    vocab decision reads. One token explode + count agg; the rank and
    running-coverage windows run on the tiny aggregated table, and the
    global total rides a broadcast one-row cross join (no second scan).
    Integer counts divide into coverage ratios → scaled-floor 6dp."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("corpus_n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "tok",
            "n",
            F.row_number().over(w).alias("rank"),
            (
                F.floor(
                    F.sum("n").over(wc)
                    / F.col("corpus_n")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("cum_share"),
        )
        .filter(F.col("rank") <= ZIPF_TOP)
    )


BIGRAM_MIN_CT = 5
BIGRAM_TOP = 20


def s09_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval: MMR re-rank of the cosine top-50 pool down
    to 10 (λ=0.7). Stage 1 is the distributed top-pool scan; stage 2 the
    sequential greedy over the constant-size pool as one applyInPandas
    kernel. Oracle: the same greedy replayed as a DuckDB recursive CTE,
    bit-identical because both sides fold sums in index order."""
    q = _query_vector(spark, sf_dir)
    return similarity.mmr_rerank(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        q,
        exclude_id=QUERY_VEC_ID,
    )


def m06_sniff_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type dispatch over opaque payloads: magic-byte sniff +
    printable fallback (mapInPandas, zero shuffle). The oracle replays
    the same CASE over the text form — valid because the corpus is
    ASCII; the binary magic arms are pinned by unit tests with crafted
    PNG/JPEG/RIFF payloads."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.sniff_types(binary)


def d13_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch quality gate: measure d04's MinHash+LSH against d03's exact
    n-gram Jaccard on the same corpus — pair counts, intersection, and
    recall/precision. The audit a production near-dedup pipeline runs on
    a sample before trusting the sketch at full scale (the banding
    recall depends on the corpus' similarity distribution, not just the
    (bands, rows) theory curve). The intersection joins on the pair key,
    so neither containment direction is assumed (d03's shingle-df cap
    and d04's band recall each drop pairs the other keeps). Output is
    one row; the heavy lifting is the two existing pair pipelines."""
    docs = _docs(spark, sf_dir)
    # both sub-pipelines consume the same (doc_id, sh64) shingle table:
    # materialize it ONCE and share — halves the text scans + shingle
    # explosions of the audit (the dominant cost at bench scale)
    sh = dedup._materialize(
        dedup._shingle_table(docs, F.col("text"), F.col("doc_id"), JACCARD_K)
    )
    # each pair set feeds two consumers (its count + the intersection):
    # materialize once so neither pipeline executes twice
    exact = dedup._materialize(
        dedup.ngram_jaccard_pairs(
            docs,
            F.col("text"),
            F.col("doc_id"),
            k=JACCARD_K,
            threshold=JACCARD_THRESHOLD,
            max_shingle_df=JACCARD_MAX_SHINGLE_DF,
            shingles=sh,
        ).select("doc_a", "doc_b")
    )
    lsh = dedup._materialize(
        dedup.minhash_lsh_pairs(
            docs,
            F.col("text"),
            F.col("doc_id"),
            k=JACCARD_K,
            threshold=JACCARD_THRESHOLD,
            shingles=sh,
        ).select("doc_a", "doc_b")
    )
    ne = exact.agg(F.count("*").alias("n_exact"))
    nl = lsh.agg(F.count("*").alias("n_lsh"))
    nb = exact.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").alias("n_both")
    )
    rate = lambda num, den: (  # noqa: E731
        F.floor(
            F.col(num)
            / F.when(F.col(den) != 0, F.col(den))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return (
        ne.crossJoin(nl)
        .crossJoin(nb)
        .select(
            "n_exact",
            "n_lsh",
            "n_both",
            rate("n_both", "n_exact").alias("recall"),
            rate("n_both", "n_lsh").alias("lsh_precision"),
        )
    )


def t14_bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by lift: count(ab)·N / (count(a)·count(b)),
    the PMI ratio without the log — identical integer inputs divide to
    identical doubles on both engines, so no transcendental cross-engine
    drift. Shape: bigrams come from a zip_with over the split array (pure
    Catalyst HOF, no shuffle until the count), unigrams from one explode;
    both partial-aggregate to vocab-sized tables, join word-keyed (at
    100 TB the unigram side usually broadcasts — vocab ≪ corpus), the
    bigram total rides a 1-row broadcast, and the top-20 is TakeOrdered.
    A min-count floor drops the noisy singleton tail before the joins."""
    docs = _docs(spark, sf_dir)
    words = docs.select(F.split(F.col("text"), " ").alias("w"))
    bigrams = words.select(
        F.explode(
            F.expr(
                "zip_with(slice(w, 1, size(w) - 1),"
                " slice(w, 2, size(w) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bgc = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= BIGRAM_MIN_CT)
    )
    unic = (
        words.select(F.explode("w").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # total over ALL bigrams (pre-filter) so lift is corpus-calibrated;
    # N = Σ(size(w)-1) — a scalar agg over the split arrays, no second
    # explode pass
    total = words.agg(
        F.sum(F.greatest(F.size("w") - F.lit(1), F.lit(0))).alias("big_n")
    )
    a = unic.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    b = unic.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    return (
        bgc.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n_ab",
            (
                F.floor(
                    F.col("n_ab")
                    * F.col("big_n")
                    / (F.col("n_a") * F.col("n_b"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2"))
        .limit(BIGRAM_TOP)
    )


def t12_boilerplate_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-common shingle share per document (boilerplate signal, the
    cross-document complement of t09's within-doc repetition)."""
    return text.boilerplate_fraction(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), k=JACCARD_K
    )


def d12_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup groups on the normalized content key (lowercase, strip
    non-alphanumerics, collapse whitespace) — the near-exact tier
    between d01 byte equality and d02 token-multiset."""
    return dedup.normalized_dedup_groups(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    )


def d11_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch dedup against a standing corpus index: docs with
    doc_id%10==0 arrive as the batch; the rest are the already-ingested
    corpus, represented ONLY by their sha index — O(batch) work."""
    docs = _docs(spark, sf_dir)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    standing = docs.filter(F.col("doc_id") % 10 != 0)
    index = standing.select(F.sha2(F.col("text"), 256).alias("sha"))
    return dedup.incremental_dedup(
        batch, index, F.col("text"), F.col("doc_id")
    )


def m05_phash_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the binary payload table —
    the multimodal twin of d09, on the generic banded-hamming join."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.phash_dup_pairs(binary)


MIX_WEIGHTS = {
    # high-quality sources upsampled 2.5x, mid kept, low downsampled, the
    # rest dropped — the canonical pretraining-mixture shape
    **{f"src{i}": 2.5 for i in range(5)},
    **{f"src{i}": 1.0 for i in range(5, 10)},
    **{f"src{i}": 0.5 for i in range(10, 15)},
}


def t06_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction cascade (email → IPv4 → phone). The testdata corpus
    is digit-free word soup, so deterministic PII is injected inline per
    doc — the oracle replays the injection and the scrub, making the
    regex semantics (Java vs RE2) part of what's verified."""
    docs = _docs(spark, sf_dir)
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-010"),
        F.col("doc_id").cast("string"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit("."),
        (F.col("doc_id") % 100).cast("string"),
    )
    return text.pii_scrub(
        docs.select("doc_id", injected.alias("text")),
        F.col("text"),
        F.col("doc_id"),
    )


def c02_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted pretraining mixture over sources: upsample (integer +
    hash-fractional replication), keep, downsample, drop — all one
    explode-expansion, no shuffle."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir).select("doc_id", "source", "lang")
    return sampling.weighted_mix(
        docs, F.col("doc_id"), F.col("source"), MIX_WEIGHTS
    )


def c03_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash of doc_id
    (exhaustive + disjoint + stable under corpus growth)."""
    from mbta_etl_spark.operators import sampling

    return sampling.split_assign(
        _docs(spark, sf_dir).select("doc_id"), F.col("doc_id")
    )


VOCAB_TOPN = 50


def t07_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency + document frequency
    per token, top-N by frequency. explode → two-stage aggregate (partial
    map-side counts, then the distinct-doc expansion) — the standard
    vocabulary-build job of a tokenizer-training pipeline."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df_docs"),
        )
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(VOCAB_TOPN)
    )


def t08_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document by
    (tf / doc_len) · ln(N / df). Built from one doc-term aggregation plus
    two windows (doc-length over doc_id, document-frequency over term) —
    each a single keyed shuffle of the compact doc-term table, never the
    raw text. N arrives via a broadcast one-row cross join, not a
    driver-side collect, so the whole thing is one lazy plan. Tie-break
    on (rounded score desc, term asc) keeps top-3 deterministic."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    dlen = F.sum("tf").over(Window.partitionBy("doc_id"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    scored = tc.withColumn("_dlen", dlen).withColumn("_df", dfreq).crossJoin(
        F.broadcast(n)
    )
    tfidf = F.round(
        (F.col("tf").cast("double") / F.col("_dlen"))
        * F.log(F.col("n_docs").cast("double") / F.col("_df")),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.select("doc_id", "term", tfidf.alias("tfidf"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


def s07_label_median_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UDAF tier: per-label exact median of embedding norms through a
    grouped-aggregate Arrow Pandas UDF (functions.vector.
    median_agg_pandas_udf). The norm itself stays a JVM HOF projection;
    only the final reduction crosses to Python, one Arrow batch per
    group."""
    from mbta_etl_spark.functions import norm
    from mbta_etl_spark.functions.vector import median_agg_pandas_udf

    med = median_agg_pandas_udf()
    e = _emb(spark, sf_dir).select("label", norm(F.col("embedding")).alias("_n"))
    return e.groupBy("label").agg(F.round(med("_n"), 6).alias("median_norm"))


def t10_tokenize_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python UDTF surface: LATERAL row expansion through
    functions.texthash.position_tokenizer_udtf (arrow-batched). The
    declarative posexplode form is the production path; this entry keeps
    the UDTF tier exercised end-to-end against the same oracle."""
    from mbta_etl_spark.functions.texthash import position_tokenizer_udtf
    from mbta_etl_spark.operators.core import balance_scan

    spark.udtf.register("tokenize_pos", position_tokenizer_udtf())
    # round-8: UDTF eval is per-row Python even with Arrow transport —
    # on the single-split local scan the whole LATERAL expansion ran in
    # one task (measured 1.03 -> 0.56 s balanced; conditional no-op on
    # parallel scans, guide §2.6/§4)
    balance_scan(
        _docs(spark, sf_dir).select("doc_id", "text")
    ).createOrReplaceTempView("_docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.term "
        "FROM _docs_udtf d, LATERAL tokenize_pos(d.text) t"
    )


REPETITION_K = 3
DECON_K = 8
DECON_TEST_SOURCE = "src19"
CHUNK_CAP = 512
PACK_CAP = 256


def t09_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_ratio(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), k=REPETITION_K
    )


def d08_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs from one source act as the held-out
    eval set; every other doc reports what fraction of its distinct
    8-grams leak from that set (broadcast semi-probe of the train shingle
    table — see operators.dedup.decontaminate_ngrams)."""
    docs = _docs(spark, sf_dir)
    return dedup.decontaminate_ngrams(
        docs.filter(F.col("source") != DECON_TEST_SOURCE),
        docs.filter(F.col("source") == DECON_TEST_SOURCE),
        F.col("text"),
        F.col("doc_id"),
        k=DECON_K,
    )


def c04_chunk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.chunk_pack(
        docs, F.col("doc_id"), F.size(F.split("text", " ")), capacity=CHUNK_CAP
    )


def c05_greedy_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-straddle greedy packing, parallel per source shard (kernel in
    operators.sampling.greedy_pack; oracle replays the sequential walk
    with a recursive CTE stepping one doc per round per shard)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.greedy_pack(
        docs, "source", "doc_id", F.size(F.split("text", " ")), capacity=PACK_CAP
    )


# per-source totals are ~1.2-1.6k tokens at sf≤0.01 and ~13k at sf0.1,
# so 800 exercises the cutoff (partial prefix kept) at every test SF
TOKEN_BUDGET = 800


def c06_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget prefix: keep a hash-ordered random prefix
    of each source until its running token total exceeds the budget —
    the "N tokens per source" corpus-mixing step, deterministic and
    oracle-replayable."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.token_budget_sample(
        docs,
        F.col("doc_id"),
        F.col("source"),
        F.size(F.split("text", " ")),
        budget=TOKEN_BUDGET,
    )


EVAL_N = 10


def c07_eval_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-N-per-source eval sampling: hash-ranked, reproducible,
    count-exact (fraction sampling can't guarantee the per-stratum n)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.per_stratum_topn(
        docs, F.col("doc_id"), F.col("source"), n=EVAL_N
    )


def t11_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-likelihood of each doc under the corpus unigram
    distribution — the KenLM-style quality signal, self-contained."""
    return text.unigram_lm_score(_docs(spark, sf_dir), F.col("text"), F.col("doc_id"))


CE_KEEP_MAX_BAND = 341  # centi-nats


def c20_perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-filter census: bucket documents by integer
    cross-entropy band (⌊−lm_score·100⌋ centi-nats under t11's corpus
    unigram LM) and report each band's doc count, token mass, and
    whether the filter keeps it (band ≤ CE_KEEP_MAX_BAND) — the table a
    pipeline reads to pick its perplexity cutoff before committing to a
    filtered pretraining mix. Banding on the 6dp-rounded score keeps
    the float boundary identical across engines. One extra
    tiny aggregation on top of t11's two scans + vocab broadcast."""
    scored = text.unigram_lm_score(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    )
    band = F.floor(-F.col("lm_score") * 100).cast("long")
    return (
        scored.groupBy(band.alias("ce_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("token_mass"),
        )
        .withColumn("keep", F.col("ce_band") <= CE_KEEP_MAX_BAND)
    )


# --- oracle SQL generation -------------------------------------------------

def _shingle_cte(source: str = "documents") -> str:
    return f"""
    toks AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM {source}),
    sh AS (
      SELECT doc_id, unnest(
        CASE WHEN len(t) >= {JACCARD_K}
             THEN list_distinct(list_transform(range(1, len(t) - {JACCARD_K - 2}),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             ELSE [text] END) AS shingle
      FROM toks
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id)
"""


_SHINGLE_CTE = _shingle_cte("documents")


def _minhash_pair_ctes() -> str:
    """CTE chain from sh/sizes to verified near-dup `pairs` (shared by the
    d04 oracle and the corpus-pipeline oracle)."""
    return f"""
        seeds AS (SELECT unnest(range(0, {dedup.NUM_HASHES})) AS seed),
        mh AS (
          SELECT doc_id, seed,
                 MIN(((1000003 * seed + 12345) *
                      CAST(('0x' || substr(md5(shingle), 1, 8)) AS UBIGINT)
                      + 7919 * seed + 17) % 4294967311) AS mh
          FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
        ),
        bands AS (
          SELECT doc_id, seed // {dedup.BAND_SIZE} AS band,
                 md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
          FROM mh GROUP BY doc_id, seed // {dedup.BAND_SIZE}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b USING (band, band_key)
          WHERE a.doc_id < b.doc_id
        ),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        ),
        pairs AS (
          SELECT doc_a, doc_b
          FROM inter
          JOIN sizes sa ON sa.doc_id = doc_a
          JOIN sizes sb ON sb.doc_id = doc_b
          WHERE ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
                  >= {JACCARD_THRESHOLD}
        )
"""


_STOPS = ", ".join(f"'{w}'" for w in EN_STOPWORDS)

# quality expression over a relation exposing (text, toks) — must mirror
# text.quality_score exactly
_QUALITY_EXPR = (
    "ROUND(0.5 * LEAST(1.0, len(toks) / 100.0)"
    f" + 0.3 * (1 - len(list_filter(toks, x -> x IN ({_STOPS}))) / len(toks))"
    " + 0.2 * (1 - (length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')))"
    " / length(text)), 6)"
)


def _simhash_sig_ctes() -> str:
    """CTE chain ending in sig(doc_id, simhash) — shared by the d05 and
    d09 oracles."""
    sums = ", ".join(
        f"SUM(CASE WHEN ({'h_lo' if b < 32 else 'h_hi'} >> {b % 32}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    # bit 63 is the two's-complement sign bit of the BIGINT signature
    sig = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {(1 << b) if b < 63 else -(1 << 63)}"
        " ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
        t AS (
          SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
          FROM documents
        ),
        h AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT) AS h_lo,
                 CAST(('0x' || substr(md5(tok), 9, 8)) AS UBIGINT) AS h_hi
          FROM t
        ),
        b AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM b)
    """


def _simhash_oracle() -> str:
    return f"""
        WITH {_simhash_sig_ctes()}
        SELECT doc_id, simhash FROM sig
    """


def _simhash_band_pairs_oracle() -> str:
    band_bits = SIMHASH_BITS // SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    return f"""
        WITH {_simhash_sig_ctes()},
        bands AS (
          SELECT doc_id, simhash, band,
                 (simhash >> (band * {band_bits})) & {mask} AS bkey
          FROM sig
          CROSS JOIN (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sig_a,
                          b.doc_id AS doc_b, b.simhash AS sig_b
          FROM bands a JOIN bands b USING (band, bkey)
          WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
    """


_KMEANS_ASSIGN_SQL = """
          SELECT vec_id, cluster, dist FROM (
            SELECT e.vec_id, c.cluster,
                   ROUND(list_distance(e.v, c.cv), 6) AS dist,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY ROUND(list_distance(e.v, c.cv), 6) ASC,
                              c.cluster ASC
                   ) AS rn
            FROM e CROSS JOIN {cent} c
          ) WHERE rn = 1
"""


def _kmeans_prefix(vexpr: str = "embedding::DOUBLE[]") -> str:
    """Shared k-means replay CTEs (e → c0 → a1 → means → c1): stride
    init (cluster = 0-based rank of sampled cid), 6dp-rounded distances
    with lowest-cluster tie-break, 6dp-rounded mean update, empty
    clusters keep their previous centroid. Used by the k01 assignment
    oracle and the k03 silhouette oracle so both score against the SAME
    final centroids; the s23 PQ oracle passes a sliced ``vexpr`` to
    replay each subspace independently."""
    return f"""
        e AS (SELECT vec_id, {vexpr} AS v FROM embeddings),
        c0 AS (
          SELECT row_number() OVER (ORDER BY cid) - 1 AS cluster, cv FROM (
            SELECT vec_id AS cid, v AS cv FROM e
            WHERE vec_id % {similarity.IVF_STRIDE} = 0
            ORDER BY cid LIMIT {similarity.IVF_MAX_CENTROIDS}
          )
        ),
        a1 AS ({_KMEANS_ASSIGN_SQL.format(cent="c0")}),
        cells AS (
          SELECT a1.cluster, generate_subscripts(e.v, 1) AS pos,
                 unnest(e.v) AS x
          FROM a1 JOIN e USING (vec_id)
        ),
        means AS (
          SELECT cluster, pos, ROUND(AVG(x), 6) AS m
          FROM cells GROUP BY cluster, pos
        ),
        c1 AS (
          SELECT c0.cluster,
                 COALESCE(mm.cv, c0.cv) AS cv
          FROM c0 LEFT JOIN (
            SELECT cluster, list(m ORDER BY pos) AS cv FROM means GROUP BY cluster
          ) mm USING (cluster)
        )"""


def _kmeans_oracle() -> str:
    """Replays kmeans_fit_predict exactly (see ``_kmeans_prefix``)."""
    return f"""
        WITH {_kmeans_prefix()}
        SELECT vec_id, cluster, dist
        FROM ({_KMEANS_ASSIGN_SQL.format(cent="c1")})
    """


def _kmeans_sil_oracle() -> str:
    """Replays kmeans_silhouette: top-2 of the same rounded distance
    ranking against the same final centroids, s floored to the 1e-6
    integer grid per point, cluster mean from the integer sum."""
    return f"""
        WITH {_kmeans_prefix()},
        alld AS (
          SELECT e.vec_id, c.cluster,
                 ROUND(list_distance(e.v, c.cv), 6) AS dist,
                 row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY ROUND(list_distance(e.v, c.cv), 6) ASC,
                            c.cluster ASC
                 ) AS rn
          FROM e CROSS JOIN c1 c),
        ab AS (
          SELECT vec_id,
                 MAX(CASE WHEN rn = 1 THEN dist END) AS a,
                 MAX(CASE WHEN rn = 1 THEN cluster END) AS own,
                 MAX(CASE WHEN rn = 2 THEN dist END) AS b
          FROM alld WHERE rn <= 2 GROUP BY vec_id),
        sp AS (
          SELECT own AS cluster,
                 CAST(FLOOR((CASE WHEN GREATEST(a, b) > 0
                                  THEN (b - a) / GREATEST(a, b)
                                  ELSE 0.0 END) * 1e6 + 0.5)
                      AS BIGINT) AS s6
          FROM ab)
        SELECT cluster,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(CASE WHEN s6 < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_negative,
               FLOOR(CAST(SUM(s6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     + 0.5) / 1e6 AS mean_silhouette
        FROM sp GROUP BY cluster ORDER BY cluster
    """


def _lang_id_oracle() -> str:
    count_cols = ", ".join(
        "len(list_filter(t, x -> x IN ({}))) AS c_{}".format(
            ", ".join(f"'{w}'" for w in words), lang
        )
        for lang, words in LANG_PROFILES
    )
    langs = [lang for lang, _ in LANG_PROFILES]
    best = "GREATEST({})".format(", ".join(f"c_{lg}" for lg in langs))
    arms = " ".join(f"WHEN c_{lg} = {best} THEN '{lg}'" for lg in langs)
    return f"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
        c AS (SELECT doc_id, lang, {count_cols} FROM t)
        SELECT doc_id, lang,
               CASE WHEN {best} = 0 THEN 'unknown' {arms} ELSE 'unknown' END
                 AS predicted_lang
        FROM c
    """


def _dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> {a}[i] * {b}[i]))"


def _cosine_topk_oracle() -> str:
    return f"""
        WITH q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ),
        e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_id, label,
               ROUND({_dot('v', 'qv')} /
                     (sqrt({_dot('v', 'v')}) * sqrt({_dot('qv', 'qv')})), 6) AS cosine
        FROM e, q
        WHERE vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {TOPK}
    """


def _rcos(a: str, b: str) -> str:
    return f"ROUND({_dot(a, b)} / (sqrt({_dot(a, a)}) * sqrt({_dot(b, b)})), 6)"


def _ivf_topk_oracle() -> str:
    return f"""
        WITH cent AS (
          SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
          FROM embeddings WHERE vec_id % {similarity.IVF_STRIDE} = 0
          ORDER BY cid LIMIT {similarity.IVF_MAX_CENTROIDS}
        ),
        e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        assign AS (
          SELECT vec_id, label, v, cid AS cell FROM (
            SELECT e.vec_id, e.label, e.v, cent.cid,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY {_rcos('e.v', 'cent.cv')} DESC, cent.cid ASC
                   ) AS rn
            FROM e CROSS JOIN cent
          ) WHERE rn = 1
        ),
        q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}
        ),
        probe AS (
          SELECT cid FROM cent, q
          ORDER BY {_rcos('cent.cv', 'q.qv')} DESC, cid ASC
          LIMIT {IVF_NPROBE}
        )
        SELECT a.vec_id, a.label, a.cell, {_rcos('a.v', 'q.qv')} AS cosine
        FROM assign a, q
        WHERE a.cell IN (SELECT cid FROM probe)
          AND a.vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, a.vec_id ASC
        LIMIT {TOPK}
    """


def _lsh_topk_oracle() -> str:
    planes = similarity.hyperplanes(EMB_DIM, similarity.N_PLANES)
    planes_sql = "[" + ", ".join(
        "[" + ", ".join(str(x) for x in row) + "]" for row in planes
    ) + "]"
    sig_terms = " + ".join(
        f"CASE WHEN {_dot('v', f'p[{p + 1}]')} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(similarity.N_PLANES)
    )
    qsig_terms = " + ".join(
        f"CASE WHEN {_dot('qv', f'p[{p + 1}]')} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(similarity.N_PLANES)
    )
    # multi-probe: query bucket plus every Hamming-1 neighbor bucket
    probes = ", ".join(
        ["qsig"] + [f"xor(qsig, {1 << p})" for p in range(similarity.N_PLANES)]
    )
    return f"""
        WITH planes AS (SELECT {planes_sql}::DOUBLE[][] AS p),
        q AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ),
        qs AS (SELECT ({qsig_terms}) AS qsig FROM q, planes),
        e AS (
          SELECT vec_id, label, embedding::DOUBLE[] AS v,
                 ({sig_terms}) AS sig
          FROM embeddings, planes
        )
        SELECT vec_id, label,
               ROUND({_dot('v', 'qv')} /
                     (sqrt({_dot('v', 'v')}) * sqrt({_dot('qv', 'qv')})), 6) AS cosine
        FROM e, q, qs
        WHERE sig IN ({probes}) AND vec_id <> {QUERY_VEC_ID}
        ORDER BY cosine DESC, vec_id ASC
        LIMIT {TOPK}
    """


HH_PHI = 0.02  # heavy-hitter threshold: keys with > 2% of token stream


def t18_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token heavy hitters via two-pass Misra–Gries: per-partition
    MG summaries nominate a candidate set whose size is independent of
    corpus size, then one broadcast-semi recount turns the sketch into
    the exact answer (operators/frequent.py). The streaming-frequency
    primitive t07's full vocab count doesn't give you at 100 TB — the
    full vocab shuffle is O(vocab), MG is O(1/phi) per task."""
    from mbta_etl_spark.operators import frequent

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return frequent.heavy_hitters_exact(toks, "tok", phi=HH_PHI)


def t19_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease with regex syllable approximation
    (vowel-group count): the length/structure quality signal pipelines
    pair with t02's ratio score. Pure Catalyst regexp counting — no
    Python in the hot path; both engines run the same three character-
    class regexes so the integer counts match exactly and only the final
    score needs the 6dp scale-floor."""
    txt = F.col("text")
    low = F.lower(txt)
    n_words = F.size(F.regexp_extract_all(low, F.lit("[a-z0-9]+"), 0))
    n_sents = F.size(F.regexp_extract_all(txt, F.lit("[.!?]+"), 0))
    n_syll = F.size(F.regexp_extract_all(low, F.lit("[aeiouy]+"), 0))
    w = F.greatest(F.lit(1), n_words).cast("double")
    s = F.greatest(F.lit(1), n_sents).cast("double")
    flesch = (
        F.lit(206.835)
        - F.lit(1.015) * (w / s)
        - F.lit(84.6) * (n_syll.cast("double") / w)
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sentences"),
        n_syll.cast("long").alias("n_syllables"),
        (F.floor(flesch * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "flesch"
        ),
    )


def s12_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics over the embedding column
    (mean / sample variance / min / max per coordinate) — the
    standardization pre-pass every whitening/PCA/quantization step
    needs. posexplode keeps it one shuffle keyed on the 64 dims; at
    100 TB the same plan holds because the aggregate is partial
    (map-side combine over dim) and output is O(d)."""
    ex = _emb(spark, sf_dir).select(
        F.posexplode(F.col("embedding")).alias("dim", "val")
    )
    v = F.col("val").cast("double")
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.avg(v)).alias("mean"),
        r6(F.var_samp(v)).alias("variance"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
    )


def c15_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit over c03's hash splits: because c03
    assigns by doc_id (stability) while duplicates share TEXT, an
    exact-dup group can straddle splits — the eval-integrity bug every
    benchmark paper gets burned by. One grouped pass over (sha -> split
    flags), one summary row: total shas, leaking shas (>1 split), docs
    inside leaking groups, and the worst case — groups present in BOTH
    train and test. At 100 TB this is the same sha-keyed shuffle as d01."""
    from mbta_etl_spark.operators import sampling

    docs = sampling.split_assign(
        _docs(spark, sf_dir).select("doc_id", "text"), F.col("doc_id")
    ).select(F.sha2(F.col("text"), 256).alias("sha"), "split")
    per_sha = docs.groupBy("sha").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("split").alias("n_splits"),
        F.max((F.col("split") == "train").cast("int")).alias("in_train"),
        F.max((F.col("split") == "test").cast("int")).alias("in_test"),
    )
    leak = F.col("n_splits") > 1
    return per_sha.agg(
        F.count(F.lit(1)).alias("n_shas"),
        F.count(F.when(leak, 1)).alias("n_leaking_shas"),
        F.sum(F.when(leak, F.col("n_docs")).otherwise(0)).alias(
            "n_docs_in_leaking"
        ),
        F.count(
            F.when((F.col("in_train") == 1) & (F.col("in_test") == 1), 1)
        ).alias("n_train_test_leaks"),
    )


KNN_K = 5
KNN_QUERY_MOD = 97


def s14_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction: every ~97th vector becomes a query, scored
    brute-force cosine against the remaining corpus, majority vote over
    the top-5 (ties break to the lowest label) — the eval loop that
    tells you whether the embedding space separates labels at all.
    Shape: query set BROADCAST against the corpus scan (map-side
    scoring, no shuffle), one q_id-keyed top-k shuffle, one tiny vote
    aggregate. At 100 TB the exact scorer swaps for s02/s05's
    LSH/IVF candidates with identical downstream voting."""
    from pyspark.sql import Window

    from mbta_etl_spark.operators.similarity import _as_double

    def dot(a: Column, b: Column) -> Column:
        prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") % KNN_QUERY_MOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("true_label"),
    )
    # the brute-force scorer (two HOF dot products per corpus×query
    # pair) runs map-side against the broadcast query block — on a
    # single-split scan that is ONE task; balance the corpus first
    # (r9; conditional, no-op on multi-split inputs — guide §2.6)
    corpus = core.balance_scan(
        emb.filter(F.col("vec_id") % KNN_QUERY_MOD != 0)
    )
    cos = F.round(
        dot(F.col("embedding"), F.col("q_emb"))
        / (
            F.sqrt(dot(F.col("embedding"), F.col("embedding")))
            * F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
        ),
        6,
    )
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "q_id", "true_label", "vec_id", "label", cos.alias("cosine")
    )
    wk = Window.partitionBy("q_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    top = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= KNN_K
    )
    votes = top.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            "n_votes",
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


def d16_minhash_est_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator accuracy over the LSH candidate pairs (MAE /
    max error / bias of signature agreement vs exact Jaccard) — d13
    audits the banding's recall, this audits the estimate itself."""
    return dedup.minhash_estimate_audit(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), k=JACCARD_K
    )


def s15_pca_eigen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA eigenvalues + explained-variance fractions of the
    embedding covariance (similarity.pca_eigen: one distributed Gram
    pass reducing the corpus to O(d^2) cells, driver-side eigh).
    Rows-only by design — no SQL engine exposes an eigensolver — but
    the invariant trace(cov) == sum of s12's per-dimension sample
    variances ties it to an oracle-checked entry, and the property
    tests pin exactly that. Output is built JVM-side from literals
    (no Python-RDD scan)."""
    eig, n, trace = similarity.pca_eigen(_emb(spark, sf_dir), "embedding")

    def r6(v: float) -> float:
        import math

        return math.floor(v * 1e6 + 0.5) / 1e6

    structs = [
        F.struct(
            F.lit(i + 1).alias("component"),
            F.lit(r6(float(v))).alias("eigenvalue"),
            F.lit(r6(float(v) / trace)).alias("explained_frac"),
            F.lit(n).alias("n_rows"),
        )
        for i, v in enumerate(eig)
    ]
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("s"))
        .select("s.*")
    )


def s15a_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked spectrum invariants for s15's eigensolver
    (similarity.pca_spectrum_moments): Σλ == trace(cov) and
    Σλ² == ‖cov‖_F², both computable in plain SQL from pairwise sample
    covariances — so the DuckDB oracle hash-verifies the distributed
    Gram pass AND the driver eigh without owning an eigensolver
    (VERDICT r3 item 7). One row: (n_rows, eig_sum, eig_sq_sum),
    6dp-floored; built JVM-side from literals."""
    n, se, se2 = similarity.pca_spectrum_moments(
        _emb(spark, sf_dir), "embedding"
    )

    def r6(v: float) -> float:
        import math

        return math.floor(v * 1e6 + 0.5) / 1e6

    return spark.range(1).select(
        F.lit(n).cast("long").alias("n_rows"),
        F.lit(r6(se)).alias("eig_sum"),
        F.lit(r6(se2)).alias("eig_sq_sum"),
    )


def m08_modality_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality census over the sniffed payload table (m06's
    router grouped): count, total and mean bytes per detected MIME —
    the capacity-planning readout before a decode fan-out (how many
    image-kernel vs audio-kernel tasks a batch needs)."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    sniffed = multimodal.sniff_types(binary)
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return sniffed.groupBy("sniffed_mime").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum("n_bytes").alias("total_bytes"),
        r6(F.avg("n_bytes")).alias("avg_bytes"),
    )


def t20_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word (t05's two budgets reduced to the ratio LLM teams actually
    watch — fertility >> 1 for a language means the tokenizer
    fragments it and that language pays more compute per word). One
    projection + one lang-keyed aggregate; ratios 6dp-floored per doc
    before averaging."""
    from mbta_etl_spark.functions import token_count_bpe

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    per_doc = _docs(spark, sf_dir).select(
        "lang",
        r6(
            token_count_bpe(F.col("text")).cast("double")
            / F.size(F.split(F.col("text"), " ")).cast("double")
        ).alias("fertility"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        r6(F.avg("fertility")).alias("avg_fertility"),
        F.min("fertility").alias("min_fertility"),
        F.max("fertility").alias("max_fertility"),
    )


def s16_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-class separation matrix: cosine similarity between label
    CENTROIDS for every label pair — the k-means-free audit of whether
    labels occupy distinct regions (low centroid cosine = separable;
    near 1 = the labels blur). Centroids are dim-wise means via
    posexplode (one shuffle keyed on label x dim, O(labels·d) state);
    the pairwise matrix is a self-join of the tiny centroid table.
    Per-dim centroid coordinates are 6dp-floored before any product so
    both engines multiply identical doubles."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    cent = (
        _emb(spark, sf_dir)
        .select(
            "label", F.posexplode(F.col("embedding")).alias("dim", "val")
        )
        .groupBy("label", "dim")
        .agg(r6(F.avg(F.col("val").cast("double"))).alias("c"))
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("c").alias("ca"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("c").alias("cb"),
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            r6(F.sum(F.col("ca") * F.col("cb"))).alias("_dot"),
            r6(F.sum(F.col("ca") * F.col("ca"))).alias("_na"),
            r6(F.sum(F.col("cb") * F.col("cb"))).alias("_nb"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        r6(
            F.col("_dot") / (F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb")))
        ).alias("centroid_cosine"),
    )


def d20_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram over d09's SimHash near-dup pairs
    (0..3 bits): the tightness profile of the cheap dedup tier — mass
    at 0 means byte-dup-dominated, mass at 3 means the threshold is
    doing real work. Costs d09 plus one 4-row aggregate."""
    pairs = dedup.simhash_band_pairs(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    )
    return pairs.groupBy("hamming").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def d21_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ROI: bytes (n_chars) saved by keeping one doc per exact
    content group — corpus bytes, surviving bytes, saved bytes and the
    saved fraction in one row. The business-case number attached to
    d01; a single sha-keyed aggregate then a 1-row rollup."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    d = load_table(spark, sf_dir, "documents").select(
        F.sha2(F.col("text"), 256).alias("sha"), "n_chars"
    )
    groups = d.groupBy("sha").agg(
        F.sum("n_chars").alias("group_bytes"),
        F.min("n_chars").alias("kept_bytes"),
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("group_bytes").alias("total_bytes"),
        F.sum("kept_bytes").alias("kept_bytes"),
        (F.sum("group_bytes") - F.sum("kept_bytes")).alias("saved_bytes"),
        r6(
            (F.sum("group_bytes") - F.sum("kept_bytes"))
            / F.sum("group_bytes").cast("double")
        ).alias("saved_frac"),
    )


def d22_band_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket occupancy histogram: how many (band, key)
    buckets hold 1, 2, 3... docs, and how many candidate pairs each
    size class contributes (size*(size-1)/2 per bucket) — the skew
    audit for d04's collision join: one hot bucket of size B costs
    B^2/2 candidate verifications, so this table IS the join's cost
    model. Reuses the signature/banding pipeline; the histogram is
    two tiny aggregates on top."""
    sh = dedup._shingle_table(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), JACCARD_K
    )
    wide = dedup._minhash_wide(sh)
    n_bands = dedup.NUM_HASHES // dedup.BAND_SIZE
    band_keys = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"mh{b * dedup.BAND_SIZE + r}")
                    for r in range(dedup.BAND_SIZE)
                ],
            )
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    stack_args = ", ".join(f"{b}, bk{b}" for b in range(n_bands))
    bands = wide.select("doc_id", *band_keys).select(
        "doc_id",
        F.expr(f"stack({n_bands}, {stack_args}) AS (band, band_key)"),
    )
    buckets = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return buckets.groupBy("bucket_size").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        (
            F.count(F.lit(1))
            * F.col("bucket_size")
            * (F.col("bucket_size") - 1)
            / F.lit(2)
        )
        .cast("long")
        .alias("candidate_pairs"),
    )


PREFIX_LEN = 40
PREFIX_MIN_DOCS = 3


def t22_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection by shared document PREFIX: groups
    of >= 3 docs opening with the same 40 characters — the cheap
    screen for form letters, scraped templates and licence headers
    that full shingling (t12) treats as ordinary overlap. One prefix-
    keyed aggregate; at 100 TB the prefix key is tiny and hash-
    partitions evenly unless templates dominate, which is exactly the
    finding."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(
            F.substring(F.col("text"), 1, PREFIX_LEN).alias("prefix")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("n_docs") >= PREFIX_MIN_DOCS)
    )


def c17_quality_length_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation between t02's quality score and document length —
    the confound check before using either as a filter (a high
    correlation means 'quality' filtering is mostly length
    filtering). Explicit product-moment formula over 6dp-pinned sums
    (the ts16 discipline), one scan + one scalar aggregate."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    q = text.quality_score(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id")
    ).select(
        F.col("quality").alias("x"),
        F.col("n_tokens").cast("double").alias("y"),
    )
    sums = q.agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum("x")).alias("sx"),
        r6(F.sum("y")).alias("sy"),
        r6(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
        r6(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        r6(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nn * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("n").alias("n_docs"),
        r6(cov / (F.sqrt(vx) * F.sqrt(vy))).alias("quality_length_corr"),
    )


def s17_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy: |mean vector|^2 / mean |v|^2 — the
    closed-form expected cosine between random vectors (Ethayarajh'19's
    diagnosis statistic: near 0 = directions spread; near 1 = a
    dominant common direction, which degrades cosine retrieval). Two
    aggregates: per-dim means (s12's shuffle) and the per-row squared
    norm average; the ratio is O(1) driver-free arithmetic."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    emb = _emb(spark, sf_dir)
    mu = (
        emb.select(F.posexplode(F.col("embedding")).alias("dim", "val"))
        .groupBy("dim")
        .agg(r6(F.avg(F.col("val").cast("double"))).alias("m"))
    )
    mu_norm = mu.agg(
        r6(F.sum(F.col("m") * F.col("m"))).alias("mu_norm_sq")
    )
    sq = F.expr(
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"
    )
    norms = emb.select(sq.alias("nsq")).agg(
        F.count(F.lit(1)).alias("n_vectors"),
        r6(F.avg("nsq")).alias("mean_norm_sq"),
    )
    return norms.crossJoin(F.broadcast(mu_norm)).select(
        "n_vectors",
        "mu_norm_sq",
        "mean_norm_sq",
        r6(F.col("mu_norm_sq") / F.col("mean_norm_sq")).alias(
            "anisotropy"
        ),
    )


def c18_mixture_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture fidelity audit: c02's ACHIEVED per-source share vs the
    TARGET share implied by the declared weights (weight x corpus
    count, normalized) with the absolute deviation — the check that
    the hash-fractional replication actually lands the recipe.
    Deviation comes only from fractional-weight hash rounding, so it
    shrinks with corpus size. Two source-keyed aggregates; dropped
    strata (weight 0) excluded on both sides."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    mixed = c02_corpus_mix(spark, sf_dir)
    achieved = mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("achieved_rows")
    )
    wexpr = None
    for s, w in sorted(MIX_WEIGHTS.items()):
        cond = F.when(F.col("source") == s, F.lit(float(w)))
        wexpr = cond if wexpr is None else wexpr.when(
            F.col("source") == s, F.lit(float(w))
        )
    wexpr = wexpr.otherwise(F.lit(0.0))
    base = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select("source", (wexpr * F.col("n_docs")).alias("target_mass"))
        .filter(F.col("target_mass") > 0)
    )
    joined = base.join(achieved, "source", "left").select(
        "source",
        F.coalesce("achieved_rows", F.lit(0)).alias("achieved_rows"),
        "target_mass",
    )
    totals = joined.agg(
        F.sum("achieved_rows").alias("_ta"),
        F.sum("target_mass").alias("_tm"),
    )
    shared = joined.crossJoin(F.broadcast(totals)).select(
        "source",
        "achieved_rows",
        r6(F.col("achieved_rows") / F.col("_ta").cast("double")).alias(
            "achieved_share"
        ),
        r6(F.col("target_mass") / F.col("_tm")).alias("target_share"),
    )
    return shared.select(
        "*",
        r6(
            F.abs(F.col("achieved_share") - F.col("target_share"))
        ).alias("abs_dev"),
    )


def m09_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-entropy screening over the payload table: bits/byte per
    payload via the Arrow mapInPandas histogram kernel
    (multimodal.byte_entropy) — near-8 payloads are compressed or
    encrypted regardless of claimed MIME. ASCII corpus => the oracle
    replays the identical histogram over characters."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.byte_entropy(binary)


def d23_shingle_df_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency spectrum: how many k-gram shingles
    appear in 1, 2, ... N docs — the distribution that justifies
    d03's df-cap (sum of df^2 over surviving shingles bounds the
    candidate-join cost, and this table shows where that mass lives).
    One shingle-keyed aggregate then a df histogram."""
    sh = dedup._shingle_table(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), JACCARD_K
    )
    dfreq = sh.groupBy("sh64").agg(F.count(F.lit(1)).alias("df"))
    return dfreq.groupBy("df").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        (F.count(F.lit(1)) * F.col("df") * F.col("df"))
        .cast("long")
        .alias("join_cost_contrib"),
    )


METRIC_AGREE_K = 10


def s18_metric_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-vs-Euclidean retrieval agreement: for the standard query
    vector, the overlap between the top-10 sets under the two metrics
    — near 1 when vectors are norm-concentrated (metrics coincide),
    low when norm variance makes the choice load-bearing. Both
    orderings come from ONE scored pass (dot, norms and distance share
    subexpressions); set logic on the k-row heads."""
    from pyspark.sql import Window

    from mbta_etl_spark.operators.similarity import _as_double

    def dot(a: Column, b: Column) -> Column:
        prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("q_emb")
    )
    corpus = emb.filter(F.col("vec_id") != QUERY_VEC_ID)
    scored = corpus.crossJoin(F.broadcast(q)).select(
        "vec_id",
        F.round(
            dot(F.col("embedding"), F.col("q_emb"))
            / (
                F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                * F.sqrt(dot(F.col("q_emb"), F.col("q_emb")))
            ),
            6,
        ).alias("cosine"),
        F.round(
            F.sqrt(
                dot(F.col("embedding"), F.col("embedding"))
                - 2 * dot(F.col("embedding"), F.col("q_emb"))
                + dot(F.col("q_emb"), F.col("q_emb"))
            ),
            6,
        ).alias("euclid"),
    )
    wc = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    we = Window.orderBy(F.asc("euclid"), F.asc("vec_id"))
    flagged = scored.select(
        "vec_id",
        (F.row_number().over(wc) <= METRIC_AGREE_K).alias("in_cos"),
        (F.row_number().over(we) <= METRIC_AGREE_K).alias("in_euc"),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return flagged.agg(
        F.count(F.when(F.col("in_cos") & F.col("in_euc"), 1)).alias(
            "n_both"
        )
    ).select(
        F.lit(METRIC_AGREE_K).alias("k"),
        "n_both",
        r6(F.col("n_both") / F.lit(float(METRIC_AGREE_K))).alias(
            "overlap_at_k"
        ),
    )


def d24_transitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity of the near-dup relation: global clustering
    coefficient of d04's pair graph (3*triangles / wedges) — the
    number that says whether near-duplication forms cliques (safe to
    keep one per cluster) or chains (d07's connected components can
    over-merge; a chain a~b~c with a!~c still collapses to one
    cluster). Edge set is tiny (d04's output), so the triangle and
    degree joins are broadcast-scale."""
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
    ).select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    deg = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select("b"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedges = deg.agg(
        F.sum(
            F.col("deg") * (F.col("deg") - 1) / F.lit(2)
        ).cast("long").alias("n_wedges")
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        n_edges.crossJoin(F.broadcast(wedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                r6(
                    F.lit(3.0)
                    * F.col("n_triangles")
                    / F.col("n_wedges").cast("double")
                ),
            ).alias("transitivity"),
        )
    )


def t23_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary audit across c03's splits: what fraction of
    val/test TOKEN OCCURRENCES use a type never seen in train — the
    eval-prep number that predicts inflated perplexity on unseen
    vocabulary. Train vocab is a left-anti probe (token-keyed), the
    same shape as d08's decontamination; output one row per non-train
    split."""
    from mbta_etl_spark.operators import sampling

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    toks = sampling.split_assign(
        _docs(spark, sf_dir).select("doc_id", "text"), F.col("doc_id")
    ).select(
        "split", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    train_vocab = (
        toks.filter(F.col("split") == "train").select("tok").distinct()
    )
    other = toks.filter(F.col("split") != "train")
    flagged = other.join(train_vocab, "tok", "left_anti").groupBy(
        "split"
    ).agg(F.count(F.lit(1)).alias("n_oov"))
    totals = other.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_tokens")
    )
    return (
        totals.join(flagged, "split", "left")
        .select(
            "split",
            "n_tokens",
            F.coalesce("n_oov", F.lit(0)).alias("n_oov"),
            r6(
                F.coalesce("n_oov", F.lit(0))
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
    )


def s19_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift between corpus halves (vec_id parity split):
    cosine between the two halves' CENTROIDS plus their norm ratio —
    the vector-space counterpart of v06's tabular profile drift (a new
    embedding batch whose centroid swings away from the standing
    corpus signals an encoder or domain change). Dim-wise means per
    half from one posexplode aggregate; the comparison is O(d)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ex = _emb(spark, sf_dir).select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding")).alias("dim", "val"),
    )
    cent = ex.groupBy("dim").agg(
        r6(
            F.avg(F.when(F.col("half") == 0, F.col("val").cast("double")))
        ).alias("ca"),
        r6(
            F.avg(F.when(F.col("half") == 1, F.col("val").cast("double")))
        ).alias("cb"),
    )
    sums = cent.agg(
        r6(F.sum(F.col("ca") * F.col("cb"))).alias("_dot"),
        r6(F.sum(F.col("ca") * F.col("ca"))).alias("_na"),
        r6(F.sum(F.col("cb") * F.col("cb"))).alias("_nb"),
    )
    return sums.select(
        r6(
            F.col("_dot")
            / (F.sqrt(F.col("_na")) * F.sqrt(F.col("_nb")))
        ).alias("centroid_cosine"),
        r6(F.sqrt(F.col("_na")) / F.sqrt(F.col("_nb"))).alias(
            "norm_ratio"
        ),
    )


def c19_pipeline_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaning-pipeline funnel: document counts surviving each stage
    of c01's composition (raw -> quality filter -> exact dedup ->
    near dedup) with the per-stage drop fraction — the observability
    table that says WHERE the corpus shrinks. Each stage count is one
    aggregate; the 4-row funnel gets its drop fractions from a lag
    window over the stage ordinal."""
    from pyspark.sql import Window

    from mbta_etl_spark.pipeline.corpus import corpus_stages

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    docs = _docs(spark, sf_dir)
    # ONE pipeline instance shared across all four stage counts (the
    # persisted exact_kept inside corpus_stages serves both the s2 count
    # and the shingle/anti-join branches under s3) — the funnel costs the
    # dominant stage plus three cheap counts, not 3 pipeline re-runs
    qualified, exact_kept, survivors = corpus_stages(docs)
    s0 = docs.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(0).alias("stage_no"), F.lit("raw").alias("stage"), "n"
    )
    s1 = qualified.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(1).alias("stage_no"), F.lit("quality").alias("stage"), "n"
    )
    s2 = exact_kept.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(2).alias("stage_no"),
        F.lit("exact_dedup").alias("stage"),
        "n",
    )
    s3 = survivors.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit(3).alias("stage_no"),
        F.lit("near_dedup").alias("stage"),
        "n",
    )
    funnel = s0.unionByName(s1).unionByName(s2).unionByName(s3)
    w = Window.orderBy("stage_no")
    prev = F.lag("n").over(w)
    return funnel.select(
        "stage_no",
        "stage",
        "n",
        F.when(
            prev.isNotNull() & (prev > 0),
            r6(
                (prev - F.col("n")).cast("double")
                / prev.cast("double")
            ),
        ).alias("drop_frac"),
    )


VOCAB_BAND_RARE = 5


def t21_vocab_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency-band census: hapax (df=1), rare (2..5) and
    common (>5) types, with each band's share of total TOKEN mass —
    the Zipf-tail summary (t13 gives the full spectrum) that sizes
    vocabulary pruning: dropping hapax types usually costs almost no
    token mass. One token-keyed aggregate then a 3-row rollup."""
    toks = _docs(spark, sf_dir).select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    per_tok = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    band = (
        F.when(F.col("n") == 1, "hapax")
        .when(F.col("n") <= VOCAB_BAND_RARE, "rare")
        .otherwise("common")
    )
    banded = per_tok.select(band.alias("band"), "n")
    total = banded.agg(F.sum("n").alias("_total"))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        banded.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("n").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "band",
            "n_types",
            "n_tokens",
            r6(
                F.col("n_tokens") / F.col("_total").cast("double")
            ).alias("token_mass_share"),
        )
    )


SWEEP_MIN_J = 0.1


def d18_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity sweep for near-dedup: pair counts per
    0.1-wide Jaccard band above 0.1 — the table you read before
    committing to d03/d04's 0.5 cutoff (a cliff between bands means
    the threshold choice is load-bearing). Same cost as d03: the
    band grouping happens after the pair pipeline, on the tiny pair
    set."""
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=SWEEP_MIN_J,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
    )
    band = F.floor(F.col("jaccard") * 10) / 10
    return pairs.groupBy(band.alias("j_band")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


_ORACLES: dict[str, str] = {
    "t01_token_stats": """
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
               ROUND(length(replace(text, ' ', '')) /
                     len(string_split(text, ' ')), 6) AS avg_token_len
        FROM documents
    """,
    "t02_quality_score": f"""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               ROUND(len(list_filter(toks, x -> x IN ({', '.join(f"'{w}'" for w in EN_STOPWORDS)}))) / len(toks), 6) AS stopword_ratio,
               ROUND((length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g'))) / length(text), 6) AS punct_ratio,
               ROUND(0.5 * LEAST(1.0, len(toks) / 100.0)
                   + 0.3 * (1 - len(list_filter(toks, x -> x IN ({', '.join(f"'{w}'" for w in EN_STOPWORDS)}))) / len(toks))
                   + 0.2 * (1 - (length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g'))) / length(text)), 6) AS quality
        FROM t
    """,
    "t03_lang_id": _lang_id_oracle(),
    "t04_fingerprint": f"""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents)
        SELECT doc_id,
               CASE WHEN len(t) >= {FP_K}
                    THEN list_min(list_transform(range(1, len(t) - {FP_K - 2}),
                         i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])))
                    ELSE md5(text) END AS fp,
               CASE WHEN len(t) >= {FP_K} THEN len(t) - {FP_K - 1} ELSE 0 END AS n_shingles
        FROM t
    """,
    "d01_exact_dedup": """
        SELECT sha256(text) AS text_sha, COUNT(*) AS n_copies,
               MIN(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1
    """,
    "d02_fingerprint_dedup": """
        SELECT md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp,
               COUNT(*) AS n_copies, MIN(doc_id) AS keep_doc_id
        FROM documents GROUP BY 1
    """,
    "d03_ngram_jaccard_pairs": f"""
        WITH {_SHINGLE_CTE},
        rare AS (
          SELECT shingle FROM sh GROUP BY shingle
          HAVING COUNT(*) <= {JACCARD_MAX_SHINGLE_DF}
        ),
        shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        csizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM shc a JOIN shc b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
        FROM inter
        JOIN csizes sa ON sa.doc_id = doc_a
        JOIN csizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= {JACCARD_THRESHOLD}
    """,
    "s08_multi_query_topk": f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        p AS (
          SELECT q.query_id, e.vec_id AS neighbor_id,
                 ROUND({{dot}} /
                       (sqrt({{qq}}) * sqrt({{vv}})), 6) AS cosine
          FROM e CROSS JOIN q
          WHERE e.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
          ) AS rn
          FROM p
        ) WHERE rn <= 3
    """.format(
        dot=_dot("e.v", "q.qv"), qq=_dot("q.qv", "q.qv"), vv=_dot("e.v", "e.v")
    ),
    "c12_curriculum_shards": f"""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                   FROM documents),
        q AS (
          SELECT doc_id,
                 ROUND(0.5 * LEAST(1.0, len(toks) / 100.0)
                     + 0.3 * (1 - len(list_filter(toks, x -> x IN ({', '.join(f"'{w}'" for w in EN_STOPWORDS)}))) / len(toks))
                     + 0.2 * (1 - (length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g'))) / length(text)), 6) AS quality
          FROM t
        )
        SELECT doc_id, quality,
               ntile({CURRICULUM_SHARDS}) OVER (
                 ORDER BY quality DESC, doc_id ASC) AS shard
        FROM q
    """,
    "t13_zipf_spectrum": f"""
        WITH counts AS (
          SELECT tok, COUNT(*) AS n FROM (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents
          ) GROUP BY tok
        ),
        total AS (SELECT SUM(n) AS corpus_n FROM counts)
        SELECT tok, n, rank,
               FLOOR(cum_n / corpus_n * 1000000 + 0.5) / 1000000.0
                 AS cum_share
        FROM (
          SELECT tok, n,
                 row_number() OVER (ORDER BY n DESC, tok ASC) AS rank,
                 SUM(n) OVER (ORDER BY n DESC, tok ASC
                              ROWS UNBOUNDED PRECEDING) AS cum_n
          FROM counts
        ) CROSS JOIN total
        WHERE rank <= {ZIPF_TOP}
    """,
    "m06_sniff_router": """
        SELECT doc_id AS media_id,
               CASE
                 WHEN substr(text, 1, 8) = chr(137) || 'PNG' || chr(13)
                      || chr(10) || chr(26) || chr(10) THEN 'image/png'
                 WHEN substr(text, 1, 6) IN ('GIF87a', 'GIF89a')
                   THEN 'image/gif'
                 WHEN substr(text, 1, 4) = 'RIFF' THEN 'audio/x-riff'
                 WHEN substr(text, 1, 4) = '%PDF' THEN 'application/pdf'
                 WHEN regexp_matches(text, '^[\\t\\n\\r -~]*$')
                   THEN 'text/plain'
                 ELSE 'application/octet-stream'
               END AS sniffed_mime,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               regexp_matches(text, '^[\\t\\n\\r -~]*$') AS printable
        FROM documents
    """,
    "s09_mmr_rerank": f"""
        WITH RECURSIVE
        qv AS (
          SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = {QUERY_VEC_ID}
        ),
        cand AS (
          SELECT vec_id, v, rel FROM (
            SELECT vec_id, v,
                   {_dot('v', 'qv')}
                     / (sqrt({_dot('v', 'v')}) * sqrt({_dot('qv', 'qv')}))
                     AS rel
            FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                  WHERE vec_id <> {QUERY_VEC_ID}), qv
          ) ORDER BY rel DESC, vec_id ASC LIMIT {similarity.MMR_POOL}
        ),
        sel AS (
          SELECT 1 AS rank,
                 [(SELECT vec_id FROM cand
                   ORDER BY rel DESC, vec_id ASC LIMIT 1)] AS ids
          UNION ALL
          SELECT rank + 1, list_append(sel.ids, (
             SELECT c.vec_id
             FROM cand c JOIN cand s ON list_contains(sel.ids, s.vec_id)
             WHERE NOT list_contains(sel.ids, c.vec_id)
             GROUP BY c.vec_id, c.rel
             ORDER BY {similarity.MMR_LAMBDA} * c.rel
                      - {1.0 - similarity.MMR_LAMBDA} * MAX(
                          {_dot('c.v', 's.v')}
                          / (sqrt({_dot('c.v', 'c.v')})
                             * sqrt({_dot('s.v', 's.v')}))) DESC,
                      c.vec_id ASC
             LIMIT 1))
          FROM sel WHERE rank < {similarity.MMR_K}
        )
        SELECT CAST(i AS INT) AS rank, ids[i] AS vec_id,
               FLOOR(c.rel * 1e6 + 0.5) / 1e6 AS mmr_rel
        FROM (SELECT ids FROM sel WHERE rank = {similarity.MMR_K}),
             generate_series(1, {similarity.MMR_K}) AS g(i)
             JOIN cand c ON c.vec_id = ids[i]
    """,
    "t14_bigram_lift": f"""
        WITH words AS (SELECT string_split(text, ' ') AS w FROM documents),
        idx AS (
          SELECT w, unnest(generate_series(1, len(w) - 1)) AS i FROM words
        ),
        bg AS (SELECT w[i] AS w1, w[i + 1] AS w2 FROM idx),
        bgc AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
          FROM bg GROUP BY w1, w2
          HAVING COUNT(*) >= {BIGRAM_MIN_CT}
        ),
        unic AS (
          SELECT tok, COUNT(*) AS n FROM (
            SELECT unnest(w) AS tok FROM words
          ) GROUP BY tok
        ),
        total AS (
          SELECT SUM(CASE WHEN len(w) > 1 THEN len(w) - 1 ELSE 0 END)
            AS big_n
          FROM words
        )
        SELECT w1, w2, n_ab,
               FLOOR(n_ab * big_n * 1.0 / (a.n * b.n) * 1e6 + 0.5) / 1e6
                 AS lift
        FROM bgc JOIN unic a ON w1 = a.tok JOIN unic b ON w2 = b.tok
        CROSS JOIN total
        ORDER BY lift DESC, w1 ASC, w2 ASC
        LIMIT {BIGRAM_TOP}
    """,
    "t12_boilerplate_frac": f"""
        WITH {_SHINGLE_CTE},
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
        SELECT doc_id,
               COUNT(*) AS n_shingles,
               COUNT(CASE WHEN df > 1 THEN 1 END) AS n_common,
               FLOOR(COUNT(CASE WHEN df > 1 THEN 1 END)
                     / COUNT(*) * 1000000 + 0.5) / 1000000.0
                 AS boilerplate_frac
        FROM sh JOIN dfreq USING (shingle)
        GROUP BY doc_id
    """,
    "d12_normalized_dedup": """
        SELECT md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g'))) AS norm_key,
               COUNT(*) AS n_copies,
               MIN(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY 1
    """,
    "d11_incremental_dedup": """
        WITH batch AS (
          SELECT doc_id, sha256(text) AS sha FROM documents
          WHERE doc_id % 10 = 0
        ),
        kept AS (
          SELECT doc_id, sha FROM (
            SELECT doc_id, sha,
                   MIN(doc_id) OVER (PARTITION BY sha) AS keep_id
            FROM batch
          ) WHERE doc_id = keep_id
        )
        SELECT doc_id, sha FROM kept
        WHERE NOT EXISTS (
          SELECT 1 FROM documents c
          WHERE c.doc_id % 10 <> 0 AND sha256(c.text) = kept.sha
        )
    """,
    "m05_phash_dupes": """
        WITH h AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(text), 1, 8)) AS UBIGINT) AS lo,
                 CAST(('0x' || substr(md5(text), 9, 8)) AS UBIGINT) AS hi
          FROM documents
        ),
        sig AS (
          SELECT doc_id,
                 CAST((CASE WHEN hi >= 2147483648
                            THEN CAST(hi AS HUGEINT) - 4294967296
                            ELSE CAST(hi AS HUGEINT) END)
                      * 4294967296 + lo AS BIGINT) AS phash
          FROM h
        ),
        bands AS (
          SELECT doc_id, phash, band, (phash >> (band * 8)) & 255 AS bkey
          FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band)
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, a.phash AS sig_a,
                          b.doc_id AS doc_b, b.phash AS sig_b
          FROM bands a JOIN bands b USING (band, bkey)
          WHERE a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(sig_a, sig_b)) <= 7
    """,
    "d10_ngram_containment": f"""
        WITH {_SHINGLE_CTE},
        rare AS (
          SELECT shingle FROM sh GROUP BY shingle
          HAVING COUNT(*) <= {JACCARD_MAX_SHINGLE_DF}
        ),
        shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
        csizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
          FROM shc a JOIN shc b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        bidir AS (
          SELECT doc_a, doc_b, n_inter, sa.set_size AS size_a,
                 sb.set_size AS size_b
          FROM inter
          JOIN csizes sa ON sa.doc_id = doc_a
          JOIN csizes sb ON sb.doc_id = doc_b
        )
        SELECT doc_sub, doc_super, containment FROM (
          SELECT doc_a AS doc_sub, doc_b AS doc_super,
                 FLOOR(n_inter / size_a * 1000000 + 0.5) / 1000000.0
                   AS containment
          FROM bidir
          UNION ALL
          SELECT doc_b AS doc_sub, doc_a AS doc_super,
                 FLOOR(n_inter / size_b * 1000000 + 0.5) / 1000000.0
                   AS containment
          FROM bidir
        )
        WHERE containment >= {CONTAINMENT_THRESHOLD}
    """,
    "d04_minhash_lsh_pairs": f"""
        WITH {_SHINGLE_CTE},
        seeds AS (SELECT unnest(range(0, {dedup.NUM_HASHES})) AS seed),
        mh AS (
          SELECT doc_id, seed,
                 MIN(((1000003 * seed + 12345) *
                      CAST(('0x' || substr(md5(shingle), 1, 8)) AS UBIGINT)
                      + 7919 * seed + 17) % 4294967311) AS mh
          FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
        ),
        bands AS (
          SELECT doc_id, seed // {dedup.BAND_SIZE} AS band,
                 md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
          FROM mh GROUP BY doc_id, seed // {dedup.BAND_SIZE}
        ),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b USING (band, band_key)
          WHERE a.doc_id < b.doc_id
        ),
        inter AS (
          SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
          FROM cand c
          JOIN sh a ON a.doc_id = c.doc_a
          JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
          GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6) >= {JACCARD_THRESHOLD}
    """,
    "d05_simhash": _simhash_oracle(),
    "d09_simhash_band_pairs": _simhash_band_pairs_oracle(),
    "k01_kmeans_clusters": _kmeans_oracle(),
    "c07_eval_sample": f"""
        SELECT doc_id, stratum, CAST(rank AS BIGINT) AS rank FROM (
          SELECT doc_id, source AS stratum,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('s0' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rank
          FROM documents
        )
        WHERE rank <= {EVAL_N}
    """,
    "c06_token_budget": f"""
        SELECT doc_id, stratum, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM (
          SELECT doc_id, source AS stratum,
                 len(string_split(text, ' ')) AS n_tokens,
                 SUM(len(string_split(text, ' '))) OVER (
                   PARTITION BY source
                   ORDER BY md5('s0' || CAST(doc_id AS VARCHAR)), doc_id
                   ROWS UNBOUNDED PRECEDING
                 ) AS cum_tokens
          FROM documents
        )
        WHERE cum_tokens <= {TOKEN_BUDGET}
    """,
    "t11_unigram_lm": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS tok_n FROM toks GROUP BY tok),
        total AS (SELECT CAST(SUM(tok_n) AS BIGINT) AS corpus_n FROM freq)
        SELECT doc_id,
               ROUND(AVG(ln(tok_n / corpus_n)), 6) AS lm_score,
               COUNT(*) AS n_tokens
        FROM toks JOIN freq USING (tok) CROSS JOIN total
        GROUP BY doc_id
    """,
    "c20_perplexity_bands": """
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        freq AS (SELECT tok, COUNT(*) AS tok_n FROM toks GROUP BY tok),
        total AS (SELECT CAST(SUM(tok_n) AS BIGINT) AS corpus_n FROM freq),
        scored AS (
          SELECT doc_id,
                 ROUND(AVG(ln(tok_n / corpus_n)), 6) AS lm_score,
                 COUNT(*) AS n_tokens
          FROM toks JOIN freq USING (tok) CROSS JOIN total
          GROUP BY doc_id)
        SELECT CAST(FLOOR(-lm_score * 100) AS BIGINT) AS ce_band,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS token_mass,
               CAST(FLOOR(-lm_score * 100) AS BIGINT) <= 341 AS keep
        FROM scored
        GROUP BY 1, 4
    """,
    "d07_dup_clusters": f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        {_minhash_pair_ctes()},
        edges AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION
          SELECT doc_b AS a, doc_a AS b FROM pairs
        ),
        cc AS (
          SELECT a AS node, a AS label FROM edges
          UNION
          SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a
        )
        SELECT node AS doc_id, MIN(label) AS component
        FROM cc GROUP BY node
    """,
    "g04_dup_chain_depth": f"""
        WITH RECURSIVE {_SHINGLE_CTE},
        {_minhash_pair_ctes()},
        roots AS (
          SELECT DISTINCT doc_a AS root FROM pairs
          WHERE doc_a NOT IN (SELECT doc_b FROM pairs)
        ),
        reach(root, node, hops) AS (
          SELECT root, root, CAST(0 AS BIGINT) FROM roots
          UNION ALL
          SELECT r.root, p.doc_b, r.hops + 1
          FROM reach r JOIN pairs p ON r.node = p.doc_a
        ),
        dist AS (
          SELECT root, node, MIN(hops) AS depth FROM reach GROUP BY root, node
        )
        SELECT root, COUNT(*) - 1 AS n_reachable, MAX(depth) AS max_depth
        FROM dist GROUP BY root
    """,
    "d06_embed_cosine_pairs": f"""
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_cosine_similarity(
                 a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE ROUND(list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
              >= {COSINE_DUP_THRESHOLD}
    """,
    "c01_corpus_clean": f"""
        WITH docq AS (
          SELECT d.*, {_QUALITY_EXPR} AS quality
          FROM (SELECT *, string_split(text, ' ') AS toks FROM documents) d
        ),
        qualified AS (SELECT * FROM docq WHERE quality >= 0.5),
        keepers AS (
          SELECT MIN(doc_id) AS doc_id FROM qualified GROUP BY sha256(text)
        ),
        exact_kept AS (SELECT q.* FROM qualified q JOIN keepers USING (doc_id)),
        {_shingle_cte('exact_kept')},
        {_minhash_pair_ctes()},
        dropb AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
        survivors AS (
          SELECT * FROM exact_kept
          WHERE doc_id NOT IN (SELECT doc_id FROM dropb)
        )
        SELECT doc_id, lang, source,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_uniq_tokens,
               quality
        FROM survivors
    """,
    "s01_cosine_topk": _cosine_topk_oracle(),
    "s02_lsh_topk": _lsh_topk_oracle(),
    "s05_ivf_topk": _ivf_topk_oracle(),
    "s03_label_topk_pairs": f"""
        WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (
          SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                 ROUND({_dot('a.v', 'b.v')} /
                       (sqrt({_dot('a.v', 'a.v')}) * sqrt({_dot('b.v', 'b.v')})), 6) AS cosine
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
        )
        SELECT vec_id, neighbor_id, cosine
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
          FROM p
        ) WHERE rn <= {LABEL_TOPK}
    """,
    "t05_bpe_tokens": """
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                 AS n_bpe_tokens,
               len(string_split(text, ' ')) AS n_ws_tokens
        FROM documents
    """,
    "s06_vector_norms": """
        SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(
                 embedding::DOUBLE[], x -> x * x))), 6) AS norm
        FROM embeddings
    """,
    "s04_norm_zscore": f"""
        WITH e AS (
          SELECT vec_id, CAST(label AS BIGINT) AS label,
                 FLOOR(sqrt(list_sum(list_transform(
                   embedding::DOUBLE[], x -> x * x))) * 1000000 + 0.5)
                   / 1000000 AS norm
          FROM embeddings
        ),
        s AS (
          SELECT label,
                 FLOOR(AVG(norm) * 1000000 + 0.5) / 1000000 AS mu,
                 FLOOR(stddev_pop(norm) * 1000000 + 0.5) / 1000000 AS sd
          FROM e GROUP BY label
        )
        SELECT vec_id, e.label, norm,
               CASE WHEN sd = 0 THEN 0
                    ELSE FLOOR((norm - mu) / sd * 10000 + 0.5) / 10000
               END AS z
        FROM e JOIN s USING (label)
    """,
    "m01_binary_meta": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS checksum,
               ascii(text[1]) AS first_byte,
               ascii(text[-1]) AS last_byte
        FROM documents
    """,
    # fake dims are digest BYTES of md5(payload); payload = utf8(text), so
    # digest byte k replays as hex pair 2k+1..2k+2 of md5(text)
    "m02_fake_image_features": """
        SELECT doc_id AS media_id,
               64 + CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 192 AS width,
               64 + CAST(('0x' || substr(md5(text), 3, 2)) AS BIGINT) % 192 AS height,
               1 + CAST(('0x' || substr(md5(text), 5, 2)) AS BIGINT) % 4 AS n_channels
        FROM documents
    """,
    # byte-slice checksums replay as md5 over substr — sound here because
    # the synthetic corpus is pure ASCII (byte slice == char slice)
    "m03_frame_samples": """
        WITH f AS (
          SELECT doc_id, text,
                 unnest(range(0, CAST(ceil(greatest(octet_length(encode(text)), 1)
                                           / 64.0) AS BIGINT))) AS fi
          FROM documents
        )
        SELECT doc_id AS media_id,
               fi AS frame_idx,
               fi * 64 AS byte_offset,
               md5(substr(text, CAST(fi * 64 + 1 AS BIGINT), 64)) AS frame_checksum
        FROM f
    """,
    "m04_fake_resize": """
        WITH d AS (
          SELECT doc_id,
                 64 + CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 192 AS w,
                 64 + CAST(('0x' || substr(md5(text), 3, 2)) AS BIGINT) % 192 AS h,
                 md5(text) AS src_md5
          FROM documents
        ),
        p AS (
          SELECT doc_id,
                 (w * 128) // greatest(w, h) AS ow,
                 (h * 128) // greatest(w, h) AS oh,
                 src_md5
          FROM d
        ),
        s AS (
          SELECT doc_id, ow, oh,
                 'resized:' || doc_id || ':' || ow || 'x' || oh || ':' || src_md5
                   AS payload
          FROM p
        )
        SELECT doc_id AS media_id, ow AS out_width, oh AS out_height,
               octet_length(encode(payload)) AS out_bytes,
               md5(payload) AS out_checksum
        FROM s
    """,
    # analytic replay of the REAL PNG decode: pixel[i] = (id·31+i·7)%256
    # over w·h·3 pixels with w = 4+id%8, h = 4+(id//8)%8 (max 11·11·3-1 =
    # 362); a value-hash match proves the decoder parsed the container
    "m10_png_decode": """
        WITH g AS (SELECT i FROM generate_series(0, 362) AS t(i))
        SELECT d.doc_id AS media_id,
               CAST(4 + d.doc_id % 8 AS BIGINT) AS width,
               CAST(4 + (d.doc_id // 8) % 8 AS BIGINT) AS height,
               CAST(3 AS BIGINT) AS n_channels,
               CAST(SUM((d.doc_id * 31 + g.i * 7) % 256) AS BIGINT)
                 AS pixel_sum
        FROM documents d
        JOIN g ON g.i < (4 + d.doc_id % 8) * (4 + (d.doc_id // 8) % 8) * 3
        GROUP BY d.doc_id
    """,
    # analytic replay of the REAL baseline-JPEG decode: blocks are
    # constant v = 2·((id·37+b·11)%128); even values round-trip the
    # Annex-K q00=16 DC quantization exactly, so decoded pixel sum =
    # 64·Σ_b v(b) over wb·hb blocks with wb = 1+id%3, hb = 1+(id//3)%3
    "m15_jpeg_decode": """
        WITH g AS (SELECT b FROM generate_series(0, 8) AS t(b))
        SELECT d.doc_id AS media_id,
               CAST(8 * (1 + d.doc_id % 3) AS BIGINT) AS width,
               CAST(8 * (1 + (d.doc_id // 3) % 3) AS BIGINT) AS height,
               CAST(1 AS BIGINT) AS n_channels,
               CAST(64 * SUM(2 * ((d.doc_id * 37 + g.b * 11) % 128))
                    AS BIGINT) AS pixel_sum
        FROM documents d
        JOIN g ON g.b < (1 + d.doc_id % 3) * (1 + (d.doc_id // 3) % 3)
        GROUP BY d.doc_id
    """,
    # analytic replay of the REAL WAV PCM16 decode: sample[i] =
    # ((id·13+i·5)%65536)−32768 over n = 256+id%128 samples (max 382)
    "m11_wav_decode": """
        WITH g AS (SELECT i FROM generate_series(0, 382) AS t(i))
        SELECT d.doc_id AS media_id,
               CAST(8000 + (d.doc_id % 4) * 4000 AS BIGINT) AS sample_rate,
               CAST(256 + d.doc_id % 128 AS BIGINT) AS n_samples,
               CAST(SUM((d.doc_id * 13 + g.i * 5) % 65536 - 32768) AS BIGINT)
                 AS sample_sum,
               CAST(SUM(((d.doc_id * 13 + g.i * 5) % 65536 - 32768)
                        * ((d.doc_id * 13 + g.i * 5) % 65536 - 32768))
                    AS BIGINT) AS sample_sqsum
        FROM documents d JOIN g ON g.i < 256 + d.doc_id % 128
        GROUP BY d.doc_id
    """,
}


def _bucket_sql(key_expr: str, salt: str) -> str:
    """DuckDB replica of sampling._bucket: first 8 hex digits of the
    salted md5 as uint32, mod 10000."""
    return (
        f"CAST(('0x' || substr(md5('{salt}' || CAST({key_expr} AS VARCHAR)), "
        f"1, 8)) AS UBIGINT) % 10000"
    )


def _mix_oracle() -> str:
    int_arms = " ".join(
        f"WHEN '{s}' THEN {int(w)}" for s, w in sorted(MIX_WEIGHTS.items())
    )
    frac_arms = " ".join(
        f"WHEN '{s}' THEN {int(round((w - int(w)) * 10000))}"
        for s, w in sorted(MIX_WEIGHTS.items())
    )
    return f"""
        WITH w AS (
          SELECT doc_id, source, lang,
                 (CASE source {int_arms} ELSE 0 END)
                 + (CASE WHEN {_bucket_sql('doc_id', 'mix')}
                          < (CASE source {frac_arms} ELSE 0 END)
                         THEN 1 ELSE 0 END) AS n_copies
          FROM documents
        )
        SELECT doc_id, source, lang,
               unnest(generate_series(1, CAST(n_copies AS BIGINT))) AS copy
        FROM w WHERE n_copies > 0
    """


def _pii_oracle() -> str:
    from mbta_etl_spark.operators.text import (
        PII_EMAIL_RE,
        PII_IP_RE,
        PII_PHONE_RE,
    )

    return f"""
        WITH inj AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or call 555-010' || CAST(doc_id AS VARCHAR)
                      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST(doc_id % 100 AS VARCHAR) AS t
          FROM documents
        ),
        s1 AS (SELECT doc_id, t,
                      regexp_replace(t, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS c1
               FROM inj),
        s2 AS (SELECT doc_id, t, c1,
                      regexp_replace(c1, '{PII_IP_RE}', '<IP>', 'g') AS c2
               FROM s1)
        SELECT doc_id,
               regexp_replace(c2, '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean,
               len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(c1, '{PII_IP_RE}')) AS n_ips,
               len(regexp_extract_all(c2, '{PII_PHONE_RE}')) AS n_phones
        FROM s2
    """


_ORACLES["t06_pii_scrub"] = _pii_oracle()


_ORACLES["s15a_pca_invariants"] = """
    WITH ex AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    c AS (
      SELECT a.dim AS i, b.dim AS j, COVAR_SAMP(a.val, b.val) AS cv
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY 1, 2)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n_rows,
           FLOOR(SUM(CASE WHEN i = j THEN cv ELSE 0 END) * 1e6 + 0.5)
             / 1e6 AS eig_sum,
           FLOOR(SUM(cv * cv) * 1e6 + 0.5) / 1e6 AS eig_sq_sum
    FROM c
"""
_ORACLES["t07_vocab_df"] = f"""
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token ORDER BY tf DESC, token LIMIT {VOCAB_TOPN}
"""
_ORACLES["t08_tfidf"] = """
    WITH tc AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents)
        GROUP BY doc_id, term),
    sc AS (
        SELECT doc_id, term,
               ROUND((CAST(tf AS DOUBLE) / SUM(tf) OVER (PARTITION BY doc_id))
                     * LN(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                          / COUNT(*) OVER (PARTITION BY term)), 6) AS tfidf
        FROM tc)
    SELECT doc_id, term, tfidf, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rn
          FROM sc)
    WHERE rn <= 3
"""
_ORACLES["s07_label_median_norm"] = """
    WITH n AS (SELECT label,
                 sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
                   AS norm
               FROM embeddings)
    SELECT label, ROUND(MEDIAN(norm), 6) AS median_norm FROM n GROUP BY label
"""
_ORACLES["t10_tokenize_udtf"] = """
    SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS term
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
"""


def _kgram_concat(k: int) -> str:
    return " || ' ' || ".join(f"t[i+{j}]" if j else "t[i]" for j in range(k))


_ORACLES["t09_repetition"] = f"""
    WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t
                  FROM documents),
    g AS (SELECT doc_id,
            CASE WHEN len(t) >= {REPETITION_K}
                 THEN list_transform(range(1, len(t) - {REPETITION_K - 2}),
                      i -> {_kgram_concat(REPETITION_K)})
                 ELSE [text] END AS grams
          FROM toks)
    SELECT doc_id, len(grams) AS n_grams,
           len(grams) - len(list_distinct(grams)) AS n_dup,
           ROUND((len(grams) - len(list_distinct(grams))) / len(grams), 6)
             AS dup_ratio
    FROM g
"""
_ORACLES["d08_decontaminate"] = f"""
    WITH toks AS (SELECT doc_id, source, text, string_split(text, ' ') AS t
                  FROM documents),
    sh8 AS (
      SELECT doc_id, source, unnest(
        CASE WHEN len(t) >= {DECON_K}
             THEN list_distinct(list_transform(range(1, len(t) - {DECON_K - 2}),
                  i -> {_kgram_concat(DECON_K)}))
             ELSE [text] END) AS shingle
      FROM toks),
    test_g AS (SELECT DISTINCT shingle FROM sh8
               WHERE source = '{DECON_TEST_SOURCE}'),
    train AS (SELECT doc_id, shingle FROM sh8
              WHERE source <> '{DECON_TEST_SOURCE}'),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id),
    hits AS (SELECT tr.doc_id, COUNT(*) AS n_hit
             FROM train tr JOIN test_g tg ON tr.shingle = tg.shingle
             GROUP BY tr.doc_id)
    SELECT s.doc_id, s.n_grams, COALESCE(h.n_hit, 0) AS n_hit,
           ROUND(COALESCE(h.n_hit, 0) / s.n_grams, 6) AS contamination
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
"""
_ORACLES["c04_chunk_pack"] = f"""
    WITH d AS (SELECT doc_id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
               FROM documents),
    o AS (SELECT doc_id, n_tokens,
                 CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_off
          FROM d)
    SELECT doc_id, n_tokens,
           CAST(end_off - n_tokens AS BIGINT) AS start_off,
           CAST((end_off - n_tokens) // {CHUNK_CAP} AS BIGINT) AS chunk_first,
           CAST((end_off - 1) // {CHUNK_CAP} AS BIGINT) AS chunk_last,
           CAST((end_off - 1) // {CHUNK_CAP}
                - (end_off - n_tokens) // {CHUNK_CAP} + 1 AS BIGINT)
             AS n_chunks
    FROM o
"""
_ORACLES["c05_greedy_pack"] = f"""
    WITH RECURSIVE base AS (
      SELECT source, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_tokens, rn, n_tokens AS fill,
             CAST(0 AS BIGINT) AS bin
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.source, b.doc_id, b.n_tokens, b.rn,
             CASE WHEN p.fill + b.n_tokens <= {PACK_CAP}
                  THEN p.fill + b.n_tokens ELSE b.n_tokens END,
             CASE WHEN p.fill + b.n_tokens <= {PACK_CAP}
                  THEN p.bin ELSE p.bin + 1 END
      FROM packed p JOIN base b ON b.source = p.source AND b.rn = p.rn + 1)
    SELECT source, doc_id, n_tokens, bin FROM packed
"""
_ORACLES["c02_corpus_mix"] = _mix_oracle()
_ORACLES["c03_split_assign"] = f"""
    SELECT doc_id,
           CASE WHEN {_bucket_sql('doc_id', 'split')} < 8000 THEN 'train'
                WHEN {_bucket_sql('doc_id', 'split')} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
"""

# d13 composes the d03 and d04 oracle bodies verbatim as nested CTEs —
# the audit is definitionally "those two pipelines, intersected"
_ORACLES["d13_lsh_recall_audit"] = f"""
    WITH exact AS ({_ORACLES["d03_ngram_jaccard_pairs"]}),
    lsh AS ({_ORACLES["d04_minhash_lsh_pairs"]}),
    ne AS (SELECT COUNT(*) AS n_exact FROM exact),
    nl AS (SELECT COUNT(*) AS n_lsh FROM lsh),
    nb AS (SELECT COUNT(*) AS n_both
           FROM exact e JOIN lsh l
             ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(n_both AS BIGINT) AS n_both,
           FLOOR(n_both * 1.0 / NULLIF(n_exact, 0) * 1e6 + 0.5) / 1e6
             AS recall,
           FLOOR(n_both * 1.0 / NULLIF(n_lsh, 0) * 1e6 + 0.5) / 1e6
             AS lsh_precision
    FROM ne, nl, nb
"""


def t15_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the unigram distributions of
    two corpus epochs (doc_id parity split) — the distribution-shift
    monitor a data pipeline runs when a new crawl lands: JS near 0 means
    the refresh matches the standing corpus, near ln(2) means disjoint
    vocabularies. Tokenization matches t07/t13 (split-on-space).

    Shape: ONE token-keyed shuffle (groupBy token with both epochs'
    counts as conditional sums — no per-epoch pre-aggregation pass),
    then a 1-row totals agg broadcast back via cross join, then a scalar
    agg of the per-token contributions. Post-scan state is O(vocab);
    text itself never shuffles. Terms with a zero-count side contribute
    only the present side's half (0*log0 := 0), so the sum is finite by
    construction. Result floats scaled-floor 6dp."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        (F.col("doc_id") % 2).alias("epoch"),
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    per = tok.groupBy("token").agg(
        F.sum(F.when(F.col("epoch") == 0, 1).otherwise(0))
        .cast("double")
        .alias("c0"),
        F.sum(F.when(F.col("epoch") == 1, 1).otherwise(0))
        .cast("double")
        .alias("c1"),
    )
    tot = per.agg(F.sum("c0").alias("t0"), F.sum("c1").alias("t1"))
    joined = per.crossJoin(F.broadcast(tot))
    p = F.col("c0") / F.col("t0")
    q = F.col("c1") / F.col("t1")
    m = (p + q) / F.lit(2.0)
    term = F.when(p > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(
        F.lit(0.0)
    ) + F.when(q > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    return joined.agg(
        (F.floor(F.sum(term) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "js_nats"
        ),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c0").cast("bigint").alias("n_tokens_epoch0"),
        F.sum("c1").cast("bigint").alias("n_tokens_epoch1"),
    )


_ORACLES["t15_js_divergence"] = """
    WITH tok AS (
        SELECT doc_id % 2 AS epoch,
               unnest(string_split(text, ' ')) AS token
        FROM documents),
    per AS (
        SELECT token,
               CAST(SUM(CASE WHEN epoch = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 AS c0,
               CAST(SUM(CASE WHEN epoch = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 AS c1
        FROM tok GROUP BY token),
    tot AS (SELECT SUM(c0) AS t0, SUM(c1) AS t1 FROM per),
    terms AS (
        SELECT
            CASE WHEN c0 > 0 THEN 0.5 * (c0 / t0)
                 * LN((c0 / t0) / ((c0 / t0 + c1 / t1) / 2))
                 ELSE 0.0 END
          + CASE WHEN c1 > 0 THEN 0.5 * (c1 / t1)
                 * LN((c1 / t1) / ((c0 / t0 + c1 / t1) / 2))
                 ELSE 0.0 END AS term,
            c0, c1
        FROM per, tot)
    SELECT FLOOR(SUM(term) * 1e6 + 0.5) / 1e6 AS js_nats,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(SUM(c0) AS BIGINT) AS n_tokens_epoch0,
           CAST(SUM(c1) AS BIGINT) AS n_tokens_epoch1
    FROM terms
"""


def s10_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization distortion audit over the embeddings
    table — the storage-compression go/no-go check for the ANN family
    (s01/s02/s05 would serve int8-quantized vectors at 4x density)."""
    return similarity.int8_quant_distortion(
        _emb(spark, sf_dir), "embedding", "vec_id"
    )


_ORACLES["s10_int8_quant"] = """
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings),
    b AS (
        SELECT vec_id, ve,
               list_min(ve) AS lo, list_max(ve) AS hi,
               (list_max(ve) - list_min(ve)) / 255.0 AS scale
        FROM v),
    e AS (
        SELECT vec_id, lo, hi, len(ve) AS d,
               list_transform(ve, x -> CASE WHEN scale > 0
                   THEN x - (lo + FLOOR((x - lo) / scale + 0.5) * scale)
                   ELSE 0.0 END) AS errs
        FROM b)
    SELECT vec_id,
           FLOOR(list_aggregate(list_transform(errs, e -> e * e), 'sum')
                 / d * 1e6 + 0.5) / 1e6 AS mse_q8,
           FLOOR(list_aggregate(list_transform(errs, e -> abs(e)), 'max')
                 * 1e6 + 0.5) / 1e6 AS max_abs_err_q8,
           lo AS v_lo, hi AS v_hi
    FROM e
"""


def m07_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked audio decode plumbing: deterministic fake spectral
    features (rate/duration/4 band energies) from md5(payload), replayed
    by the SQL oracle as hex pairs of md5(text) — the m02 contract
    applied to the audio modality."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.fake_audio_features(binary)


_ORACLES["m07_audio_features"] = """
    WITH h AS (
      SELECT doc_id, md5(text) AS hx,
             octet_length(encode(text)) * 256 AS n_samples
      FROM documents),
    f AS (
      SELECT doc_id,
             8000 * (1 + CAST(('0x' || substr(hx, 7, 2)) AS BIGINT) % 6)
               AS sample_rate,
             n_samples,
             CAST(('0x' || substr(hx, 9, 2)) AS BIGINT) AS b0,
             CAST(('0x' || substr(hx, 11, 2)) AS BIGINT) AS b1,
             CAST(('0x' || substr(hx, 13, 2)) AS BIGINT) AS b2,
             CAST(('0x' || substr(hx, 15, 2)) AS BIGINT) AS b3
      FROM h)
    SELECT doc_id AS media_id, sample_rate, n_samples,
           FLOOR(n_samples * 1.0 / sample_rate * 1e6 + 0.5) / 1e6
             AS duration_s,
           FLOOR(b0 / 255.0 * 1e6 + 0.5) / 1e6 AS band_e0,
           FLOOR(b1 / 255.0 * 1e6 + 0.5) / 1e6 AS band_e1,
           FLOOR(b2 / 255.0 * 1e6 + 0.5) / 1e6 AS band_e2,
           FLOOR(b3 / 255.0 * 1e6 + 0.5) / 1e6 AS band_e3
    FROM f
"""


def s11_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality gate for the IVF path: s05's cell-pruned top-k against
    s01's exact brute-force top-k for the same query — overlap and
    recall@k in one row (the d13 audit, applied to the vector index).
    The check a pipeline runs before trusting nprobe/cell settings at
    full scale. All counting stays in-plan (crossJoin of three 1-row
    aggregates); the heavy lifting is the two existing search plans."""
    exact = s01_cosine_topk(spark, sf_dir).select("vec_id")
    ivf = s05_ivf_topk(spark, sf_dir).select("vec_id")
    ne = exact.agg(F.count("*").alias("n_exact"))
    ni = ivf.agg(F.count("*").alias("n_ivf"))
    nb = exact.join(ivf, "vec_id").agg(F.count("*").alias("n_both"))
    rate = lambda num, den: (  # noqa: E731
        F.floor(
            F.col(num)
            / F.when(F.col(den) != 0, F.col(den))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return (
        ne.crossJoin(ni)
        .crossJoin(nb)
        .select(
            "n_exact",
            "n_ivf",
            "n_both",
            rate("n_both", "n_exact").alias("recall_at_k"),
        )
    )


_ORACLES["s11_ivf_recall_audit"] = f"""
    WITH exact AS ({_ORACLES["s01_cosine_topk"]}),
    ivf AS ({_ORACLES["s05_ivf_topk"]}),
    ne AS (SELECT COUNT(*) AS n_exact FROM exact),
    ni AS (SELECT COUNT(*) AS n_ivf FROM ivf),
    nb AS (SELECT COUNT(*) AS n_both
           FROM exact e JOIN ivf i ON e.vec_id = i.vec_id)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_ivf AS BIGINT) AS n_ivf,
           CAST(n_both AS BIGINT) AS n_both,
           FLOOR(n_both * 1.0 / NULLIF(n_exact, 0) * 1e6 + 0.5) / 1e6
             AS recall_at_k
    FROM ne, ni, nb
"""


def t16_corpus_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level unigram statistics: Shannon entropy of the token
    distribution (nats), its perplexity exp(H) — the effective vocabulary
    size a unigram LM sees — and the type-token ratio. The one-row
    diagnostic read next to t13's Zipf spectrum when sizing a tokenizer.
    Shape: one token-keyed shuffle (the t13 envelope), totals on a
    broadcast 1-row cross join, O(vocab) post-scan state."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("vocab")
    )
    j = counts.crossJoin(F.broadcast(total))
    p = F.col("n") / F.col("tot")
    agg = j.agg(
        F.sum(-p * F.log(p)).alias("_h"),
        F.max("vocab").alias("vocab_size"),
        F.max("tot").alias("n_tokens_total"),
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return agg.select(
        r6(F.col("_h")).alias("entropy_nats"),
        r6(F.exp("_h")).alias("perplexity"),
        "vocab_size",
        F.col("n_tokens_total").cast("bigint").alias("n_tokens_total"),
        r6(F.col("vocab_size") / F.col("n_tokens_total")).alias(
            "type_token_ratio"
        ),
    )


_ORACLES["t16_corpus_entropy"] = """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS tot,
                   CAST(COUNT(*) AS BIGINT) AS vocab
            FROM counts),
    h AS (SELECT SUM(-(n / tot) * LN(n / tot)) AS hh,
                 MAX(vocab) AS vocab_size, MAX(tot) AS tot
          FROM counts, tot)
    SELECT FLOOR(hh * 1e6 + 0.5) / 1e6 AS entropy_nats,
           FLOOR(EXP(hh) * 1e6 + 0.5) / 1e6 AS perplexity,
           vocab_size,
           CAST(tot AS BIGINT) AS n_tokens_total,
           FLOOR(vocab_size / tot * 1e6 + 0.5) / 1e6 AS type_token_ratio
    FROM h
"""


def t17_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the t03 language classifier: per (actual,
    predicted) pair, the count and its share of the actual language's
    docs — the evaluation census any heuristic classifier ships with.
    One groupBy over t03's per-doc output; the share window runs on the
    |langs|^2-row aggregate, so post-scan state is O(|langs|^2)."""
    from pyspark.sql import Window

    pred = text.lang_id(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), F.col("lang")
    )
    cm = pred.groupBy("lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("lang")
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return cm.select(
        "lang",
        "predicted_lang",
        "n",
        r6(F.col("n") / F.sum("n").over(w)).alias("share_of_actual"),
    )


_ORACLES["t17_langid_confusion"] = f"""
    WITH p AS ({_lang_id_oracle()}),
    cm AS (SELECT lang, predicted_lang, COUNT(*) AS n
           FROM p GROUP BY lang, predicted_lang)
    SELECT lang, predicted_lang, CAST(n AS BIGINT) AS n,
           FLOOR(n * 1.0 / SUM(n) OVER (PARTITION BY lang) * 1e6 + 0.5)
             / 1e6 AS share_of_actual
    FROM cm
"""


def k03_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette for k01's k-means: a = distance
    to own centroid, b = nearest other centroid, s = (b−a)/max(a,b),
    aggregated as member count / negative-s count / mean silhouette per
    cluster — the overlap-penalizing quality number k02's inertia can't
    express (inertia always falls with k). Scores against the SAME
    final centroids the assignment saw
    (operators/similarity.kmeans_silhouette)."""
    return similarity.kmeans_silhouette(
        _emb(spark, sf_dir), "embedding", "vec_id", n_iter=KMEANS_ITER
    )


def k02_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality report over k01's assignment: per-cluster member
    count, mean/max distance to centroid, and the inertia contribution
    (sum of squared distances) — the convergence/health readout every
    k-means run ships with. One groupBy over the assignment output;
    post-scan state is O(k)."""
    assign = similarity.kmeans_fit_predict(
        _emb(spark, sf_dir), "embedding", "vec_id", n_iter=KMEANS_ITER
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return assign.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        r6(F.avg("dist")).alias("mean_dist"),
        F.max("dist").alias("max_dist"),
        r6(F.sum(F.col("dist") * F.col("dist"))).alias("inertia"),
    )


def c13_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over c05's greedy bins: per source shard,
    bin count, average fill ratio vs capacity, wasted token slots, and
    oversize bins (single docs larger than capacity) — the readout that
    decides whether the packing capacity is sized right before a
    training run burns the waste. Two grouped aggregations over the
    packed table (bins, then shards); state is O(#bins)."""
    packed = c05_greedy_pack(spark, sf_dir)
    bins = packed.groupBy("source", "bin").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count(F.lit(1)).alias("n_docs_bin"),
    )
    cap = F.lit(PACK_CAP)
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return bins.groupBy("source").agg(
        F.sum("n_docs_bin").alias("n_docs"),
        F.count(F.lit(1)).alias("n_bins"),
        r6(F.avg(F.col("bin_tokens") / cap)).alias("avg_fill_ratio"),
        F.sum(F.greatest(cap - F.col("bin_tokens"), F.lit(0))).alias(
            "waste_tokens"
        ),
        F.sum(F.when(F.col("bin_tokens") > cap, 1).otherwise(0)).alias(
            "n_oversize_bins"
        ),
    )


_ORACLES["k03_silhouette"] = _kmeans_sil_oracle()

_ORACLES["k02_cluster_profile"] = f"""
    WITH assign AS ({_ORACLES["k01_kmeans_clusters"]}),
    p AS (SELECT cluster, dist FROM assign)
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           FLOOR(AVG(dist) * 1e6 + 0.5) / 1e6 AS mean_dist,
           MAX(dist) AS max_dist,
           FLOOR(SUM(dist * dist) * 1e6 + 0.5) / 1e6 AS inertia
    FROM p GROUP BY cluster
"""

_ORACLES["c13_pack_efficiency"] = f"""
    WITH packed AS ({_ORACLES["c05_greedy_pack"]}),
    bins AS (SELECT source, bin, SUM(n_tokens) AS bt, COUNT(*) AS nd
             FROM packed GROUP BY source, bin)
    SELECT source,
           CAST(SUM(nd) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           FLOOR(AVG(bt / {PACK_CAP}.0) * 1e6 + 0.5) / 1e6
             AS avg_fill_ratio,
           CAST(SUM(GREATEST({PACK_CAP} - bt, 0)) AS BIGINT)
             AS waste_tokens,
           CAST(SUM(CASE WHEN bt > {PACK_CAP} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oversize_bins
    FROM bins GROUP BY source
"""

_ORACLES["m08_modality_census"] = f"""
    WITH sniffed AS ({_ORACLES["m06_sniff_router"]})
    SELECT sniffed_mime,
           CAST(COUNT(*) AS BIGINT) AS n_payloads,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           FLOOR(AVG(n_bytes) * 1e6 + 0.5) / 1e6 AS avg_bytes
    FROM sniffed GROUP BY sniffed_mime
"""

def _c17_oracle() -> str:
    return f"""
    WITH q AS ({_ORACLES["t02_quality_score"]}),
    pairs AS (SELECT quality AS x, CAST(n_tokens AS DOUBLE) AS y FROM q),
    sums AS (
      SELECT COUNT(*) AS n,
             FLOOR(SUM(x) * 1e6 + 0.5) / 1e6 AS sx,
             FLOOR(SUM(y) * 1e6 + 0.5) / 1e6 AS sy,
             FLOOR(SUM(x * y) * 1e6 + 0.5) / 1e6 AS sxy,
             FLOOR(SUM(x * x) * 1e6 + 0.5) / 1e6 AS sxx,
             FLOOR(SUM(y * y) * 1e6 + 0.5) / 1e6 AS syy
      FROM pairs)
    SELECT CAST(n AS BIGINT) AS n_docs,
           FLOOR((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 * 1e6 + 0.5) / 1e6 AS quality_length_corr
    FROM sums
"""


_ORACLES["c17_quality_length_corr"] = _c17_oracle()

_ORACLES["d24_transitivity_audit"] = f"""
    WITH d04 AS ({_ORACLES["d04_minhash_lsh_pairs"]}),
    e AS (SELECT doc_a AS a, doc_b AS b FROM d04),
    deg AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      GROUP BY 1),
    w AS (
      SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges
      FROM deg),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e1.a = e3.a AND e2.b = e3.b),
    ne AS (SELECT COUNT(*) AS n_edges FROM e)
    SELECT CAST(n_edges AS BIGINT) AS n_edges,
           n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CASE WHEN n_wedges > 0
                THEN FLOOR(3.0 * n_triangles
                           / CAST(n_wedges AS DOUBLE) * 1e6 + 0.5) / 1e6
           END AS transitivity
    FROM ne CROSS JOIN w CROSS JOIN tri
"""

_ORACLES["t23_oov_rate"] = f"""
    WITH assigned AS (
      SELECT CASE WHEN {_bucket_sql('doc_id', 'split')} < 8000 THEN 'train'
                  WHEN {_bucket_sql('doc_id', 'split')} < 9000 THEN 'val'
                  ELSE 'test' END AS split,
             unnest(string_split(text, ' ')) AS tok
      FROM documents),
    train_vocab AS (
      SELECT DISTINCT tok FROM assigned WHERE split = 'train'),
    other AS (SELECT * FROM assigned WHERE split <> 'train'),
    totals AS (
      SELECT split, COUNT(*) AS n_tokens FROM other GROUP BY 1),
    oov AS (
      SELECT split, COUNT(*) AS n_oov
      FROM other o
      WHERE NOT EXISTS (
        SELECT 1 FROM train_vocab t WHERE t.tok = o.tok)
      GROUP BY 1)
    SELECT t.split,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(v.n_oov, 0) AS BIGINT) AS n_oov,
           FLOOR(COALESCE(v.n_oov, 0) / CAST(t.n_tokens AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS oov_rate
    FROM totals t LEFT JOIN oov v USING (split)
"""

def _c19_oracle() -> str:
    return f"""
    WITH q AS ({_ORACLES["t02_quality_score"]}),
    cleaned AS ({_ORACLES["c01_corpus_clean"]}),
    funnel AS (
      SELECT 0 AS stage_no, 'raw' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n FROM documents
      UNION ALL
      SELECT 1, 'quality', CAST(COUNT(*) AS BIGINT)
      FROM q WHERE quality >= 0.5
      UNION ALL
      SELECT 2, 'exact_dedup',
             CAST(COUNT(DISTINCT sha256(d.text)) AS BIGINT)
      FROM documents d JOIN q USING (doc_id) WHERE q.quality >= 0.5
      UNION ALL
      SELECT 3, 'near_dedup', CAST(COUNT(*) AS BIGINT) FROM cleaned)
    SELECT stage_no, stage, n,
           CASE WHEN lag(n) OVER (ORDER BY stage_no) > 0
                THEN FLOOR((lag(n) OVER (ORDER BY stage_no) - n)
                           / CAST(lag(n) OVER (ORDER BY stage_no)
                                  AS DOUBLE) * 1e6 + 0.5) / 1e6
           END AS drop_frac
    FROM funnel
"""


_ORACLES["c19_pipeline_funnel"] = _c19_oracle()

_ORACLES["s19_embedding_drift"] = """
    WITH ex AS (
      SELECT vec_id % 2 AS half,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    cent AS (
      SELECT dim,
             FLOOR(AVG(CASE WHEN half = 0 THEN val END) * 1e6 + 0.5)
               / 1e6 AS ca,
             FLOOR(AVG(CASE WHEN half = 1 THEN val END) * 1e6 + 0.5)
               / 1e6 AS cb
      FROM ex GROUP BY dim),
    sums AS (
      SELECT FLOOR(SUM(ca * cb) * 1e6 + 0.5) / 1e6 AS dot,
             FLOOR(SUM(ca * ca) * 1e6 + 0.5) / 1e6 AS na,
             FLOOR(SUM(cb * cb) * 1e6 + 0.5) / 1e6 AS nb
      FROM cent)
    SELECT FLOOR(dot / (sqrt(na) * sqrt(nb)) * 1e6 + 0.5) / 1e6
             AS centroid_cosine,
           FLOOR(sqrt(na) / sqrt(nb) * 1e6 + 0.5) / 1e6 AS norm_ratio
    FROM sums
"""

_ORACLES["d23_shingle_df_spectrum"] = f"""
    WITH {_SHINGLE_CTE},
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT CAST(df AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) * df * df AS BIGINT) AS join_cost_contrib
    FROM dfreq GROUP BY df
"""

_ORACLES["s18_metric_agreement"] = f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id,
             ROUND({_dot('e.v', 'q.qv')}
                   / (sqrt({_dot('e.v', 'e.v')})
                      * sqrt({_dot('q.qv', 'q.qv')})), 6) AS cosine,
             ROUND(sqrt({_dot('e.v', 'e.v')}
                        - 2 * {_dot('e.v', 'q.qv')}
                        + {_dot('q.qv', 'q.qv')}), 6) AS euclid
      FROM e CROSS JOIN q
      WHERE e.vec_id <> {QUERY_VEC_ID}),
    flagged AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY cosine DESC, vec_id ASC)
               <= {METRIC_AGREE_K} AS in_cos,
             row_number() OVER (ORDER BY euclid ASC, vec_id ASC)
               <= {METRIC_AGREE_K} AS in_euc
      FROM scored)
    SELECT {METRIC_AGREE_K} AS k,
           CAST(COUNT(CASE WHEN in_cos AND in_euc THEN 1 END) AS BIGINT)
             AS n_both,
           FLOOR(COUNT(CASE WHEN in_cos AND in_euc THEN 1 END)
                 / {METRIC_AGREE_K}.0 * 1e6 + 0.5) / 1e6
             AS overlap_at_k
    FROM flagged
"""

_ORACLES["m09_byte_entropy"] = """
    WITH chars AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '.')) AS ch
      FROM documents),
    cnt AS (
      SELECT doc_id, ch, COUNT(*) AS n FROM chars GROUP BY 1, 2),
    tot AS (
      SELECT doc_id, SUM(n) AS t, COUNT(*) AS distincts
      FROM cnt GROUP BY 1)
    SELECT c.doc_id,
           CAST(MAX(t.t) AS BIGINT) AS n_bytes,
           CAST(MAX(t.distincts) AS BIGINT) AS n_distinct_bytes,
           FLOOR(-SUM((c.n / CAST(t.t AS DOUBLE))
                      * log2(c.n / CAST(t.t AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS entropy
    FROM cnt c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id
"""

_ORACLES["s17_anisotropy"] = """
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    mu AS (
      SELECT dim, FLOOR(AVG(val) * 1e6 + 0.5) / 1e6 AS m
      FROM ex GROUP BY dim),
    mn AS (
      SELECT FLOOR(SUM(m * m) * 1e6 + 0.5) / 1e6 AS mu_norm_sq FROM mu),
    norms AS (
      SELECT COUNT(*) AS n_vectors,
             FLOOR(AVG(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * 1e6 + 0.5) / 1e6 AS mean_norm_sq
      FROM embeddings)
    SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
           mu_norm_sq, mean_norm_sq,
           FLOOR(mu_norm_sq / mean_norm_sq * 1e6 + 0.5) / 1e6
             AS anisotropy
    FROM norms CROSS JOIN mn
"""


def _c18_oracle() -> str:
    int_arms = " ".join(
        f"WHEN '{s}' THEN {int(w)}" for s, w in sorted(MIX_WEIGHTS.items())
    )
    frac_arms = " ".join(
        f"WHEN '{s}' THEN {int(round((w - int(w)) * 10000))}"
        for s, w in sorted(MIX_WEIGHTS.items())
    )
    w_arms = " ".join(
        f"WHEN '{s}' THEN {float(w)}" for s, w in sorted(MIX_WEIGHTS.items())
    )
    return f"""
    WITH w AS (
      SELECT doc_id, source,
             (CASE source {int_arms} ELSE 0 END)
             + (CASE WHEN {_bucket_sql('doc_id', 'mix')}
                      < (CASE source {frac_arms} ELSE 0 END)
                     THEN 1 ELSE 0 END) AS n_copies
      FROM documents),
    per AS (
      SELECT source,
             SUM(n_copies) AS achieved_rows,
             (CASE source {w_arms} ELSE 0.0 END) * COUNT(*)
               AS target_mass
      FROM w GROUP BY source),
    kept AS (SELECT * FROM per WHERE target_mass > 0),
    tot AS (
      SELECT SUM(achieved_rows) AS ta, SUM(target_mass) AS tm FROM kept)
    SELECT source,
           CAST(achieved_rows AS BIGINT) AS achieved_rows,
           FLOOR(achieved_rows / CAST(tot.ta AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS achieved_share,
           FLOOR(target_mass / tot.tm * 1e6 + 0.5) / 1e6 AS target_share,
           FLOOR(ABS((FLOOR(achieved_rows / CAST(tot.ta AS DOUBLE)
                            * 1e6 + 0.5) / 1e6)
                     - (FLOOR(target_mass / tot.tm * 1e6 + 0.5) / 1e6))
                 * 1e6 + 0.5) / 1e6 AS abs_dev
    FROM kept CROSS JOIN tot
"""


_ORACLES["c18_mixture_fidelity"] = _c18_oracle()

_ORACLES["t22_template_prefixes"] = f"""
    SELECT substr(text, 1, {PREFIX_LEN}) AS prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) >= {PREFIX_MIN_DOCS}
"""

_ORACLES["d22_band_occupancy"] = f"""
    WITH {_SHINGLE_CTE},
    seeds AS (SELECT unnest(range(0, {dedup.NUM_HASHES})) AS seed),
    mh AS (
      SELECT doc_id, seed,
             MIN(((1000003 * seed + 12345) *
                  CAST(('0x' || substr(md5(shingle), 1, 8)) AS UBIGINT)
                  + 7919 * seed + 17) % 4294967311) AS mh
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // {dedup.BAND_SIZE} AS band,
             md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY doc_id, seed // {dedup.BAND_SIZE}),
    buckets AS (
      SELECT band, band_key, COUNT(*) AS bucket_size
      FROM bands GROUP BY 1, 2)
    SELECT CAST(bucket_size AS BIGINT) AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(COUNT(*) * bucket_size * (bucket_size - 1) / 2 AS BIGINT)
             AS candidate_pairs
    FROM buckets GROUP BY bucket_size
"""

_ORACLES["d21_dedup_savings"] = """
    WITH groups AS (
      SELECT sha256(text) AS sha,
             SUM(n_chars) AS group_bytes,
             MIN(n_chars) AS kept_bytes
      FROM documents GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(group_bytes) AS BIGINT) AS total_bytes,
           CAST(SUM(kept_bytes) AS BIGINT) AS kept_bytes,
           CAST(SUM(group_bytes) - SUM(kept_bytes) AS BIGINT)
             AS saved_bytes,
           FLOOR((SUM(group_bytes) - SUM(kept_bytes))
                 / CAST(SUM(group_bytes) AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS saved_frac
    FROM groups
"""

_ORACLES["t21_vocab_bands"] = f"""
    WITH per_tok AS (
      SELECT tok, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok),
    banded AS (
      SELECT CASE WHEN n = 1 THEN 'hapax'
                  WHEN n <= {VOCAB_BAND_RARE} THEN 'rare'
                  ELSE 'common' END AS band,
             n
      FROM per_tok),
    tot AS (SELECT SUM(n) AS t FROM banded)
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           FLOOR(SUM(n) / CAST(MAX(tot.t) AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS token_mass_share
    FROM banded CROSS JOIN tot
    GROUP BY band
"""

_ORACLES["d20_hamming_histogram"] = f"""
    WITH d09 AS ({_simhash_band_pairs_oracle()})
    SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM d09 GROUP BY hamming
"""

_ORACLES["s16_centroid_separation"] = """
    WITH ex AS (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings),
    cent AS (
      SELECT label, dim,
             FLOOR(AVG(val) * 1e6 + 0.5) / 1e6 AS c
      FROM ex GROUP BY 1, 2),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             FLOOR(SUM(a.c * b.c) * 1e6 + 0.5) / 1e6 AS dot,
             FLOOR(SUM(a.c * a.c) * 1e6 + 0.5) / 1e6 AS na,
             FLOOR(SUM(b.c * b.c) * 1e6 + 0.5) / 1e6 AS nb
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2)
    SELECT label_a, label_b,
           FLOOR(dot / (sqrt(na) * sqrt(nb)) * 1e6 + 0.5) / 1e6
             AS centroid_cosine
    FROM pairs
"""

_ORACLES["t20_tokenizer_fertility"] = """
    WITH per_doc AS (
      SELECT lang,
             FLOOR(len(regexp_extract_all(
                       text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   * 1e6 + 0.5) / 1e6 AS fertility
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(AVG(fertility) * 1e6 + 0.5) / 1e6 AS avg_fertility,
           MIN(fertility) AS min_fertility,
           MAX(fertility) AS max_fertility
    FROM per_doc GROUP BY lang
"""

_ORACLES["d18_jaccard_threshold_sweep"] = f"""
    WITH {_SHINGLE_CTE},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) <= {JACCARD_MAX_SHINGLE_DF}),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    csizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
               AS jaccard
      FROM inter
      JOIN csizes sa ON sa.doc_id = doc_a
      JOIN csizes sb ON sb.doc_id = doc_b
      WHERE ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
            >= {SWEEP_MIN_J})
    SELECT FLOOR(jaccard * 10) / 10 AS j_band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
"""

_ORACLES["d16_minhash_est_audit"] = f"""
    WITH {_SHINGLE_CTE},
    seeds AS (SELECT unnest(range(0, {dedup.NUM_HASHES})) AS seed),
    mh AS (
      SELECT doc_id, seed,
             MIN(((1000003 * seed + 12345) *
                  CAST(('0x' || substr(md5(shingle), 1, 8)) AS UBIGINT)
                  + 7919 * seed + 17) % 4294967311) AS mh
      FROM sh CROSS JOIN seeds GROUP BY doc_id, seed),
    bands AS (
      SELECT doc_id, seed // {dedup.BAND_SIZE} AS band,
             md5(string_agg(mh, '|' ORDER BY seed)) AS band_key
      FROM mh GROUP BY doc_id, seed // {dedup.BAND_SIZE}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b USING (band, band_key)
      WHERE a.doc_id < b.doc_id),
    agree AS (
      SELECT c.doc_a, c.doc_b,
             COUNT(CASE WHEN a.mh = b.mh THEN 1 END) AS n_agree
      FROM cand c
      JOIN mh a ON a.doc_id = c.doc_a
      JOIN mh b ON b.doc_id = c.doc_b AND b.seed = a.seed
      GROUP BY 1, 2),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2),
    pairs AS (
      SELECT g.doc_a, g.doc_b,
             g.n_agree / {dedup.NUM_HASHES}.0 AS est,
             CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
               / (sa.set_size + sb.set_size - COALESCE(i.n_inter, 0))
               AS tru
      FROM agree g
      LEFT JOIN inter i ON g.doc_a = i.doc_a AND g.doc_b = i.doc_b
      JOIN sizes sa ON sa.doc_id = g.doc_a
      JOIN sizes sb ON sb.doc_id = g.doc_b)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(AVG(ABS(est - tru)) * 1e6 + 0.5) / 1e6 AS mae,
           FLOOR(MAX(ABS(est - tru)) * 1e6 + 0.5) / 1e6 AS max_err,
           FLOOR(AVG(est - tru) * 1e6 + 0.5) / 1e6 AS mean_bias
    FROM pairs
"""

_ORACLES["c15_split_leakage_audit"] = f"""
    WITH assigned AS (
      SELECT sha256(text) AS sha,
             CASE WHEN {_bucket_sql('doc_id', 'split')} < 8000 THEN 'train'
                  WHEN {_bucket_sql('doc_id', 'split')} < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    per_sha AS (
      SELECT sha,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT split) AS n_splits,
             MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test
      FROM assigned GROUP BY sha)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_shas,
           CAST(COUNT(CASE WHEN n_splits > 1 THEN 1 END) AS BIGINT)
             AS n_leaking_shas,
           CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END)
                AS BIGINT) AS n_docs_in_leaking,
           CAST(COUNT(CASE WHEN in_train = 1 AND in_test = 1 THEN 1 END)
                AS BIGINT) AS n_train_test_leaks
    FROM per_sha
"""

_ORACLES["s14_knn_classify"] = f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (
      SELECT vec_id AS q_id, label AS true_label, v AS qv
      FROM e WHERE vec_id % {KNN_QUERY_MOD} = 0),
    c AS (SELECT * FROM e WHERE vec_id % {KNN_QUERY_MOD} <> 0),
    s AS (
      SELECT q.q_id, q.true_label, c.vec_id, c.label,
             ROUND({_dot('c.v', 'q.qv')}
                   / (sqrt({_dot('c.v', 'c.v')})
                      * sqrt({_dot('q.qv', 'q.qv')})), 6) AS cosine
      FROM q CROSS JOIN c),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY q_id ORDER BY cosine DESC, vec_id ASC) AS rn
        FROM s) WHERE rn <= {KNN_K}),
    votes AS (
      SELECT q_id, true_label, label,
             CAST(COUNT(*) AS BIGINT) AS n_votes
      FROM top GROUP BY 1, 2, 3)
    SELECT q_id, true_label, label AS predicted_label, n_votes,
           label = true_label AS correct
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY q_id ORDER BY n_votes DESC, label ASC) AS vr
      FROM votes) WHERE vr = 1
"""

_ORACLES["t18_heavy_hitter_tokens"] = f"""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    w2 AS (SELECT tok FROM w WHERE tok <> ''),
    tot AS (SELECT COUNT(*) AS n FROM w2)
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           FLOOR(COUNT(*) * 1.0 / MAX(tot.n) * 1e6 + 0.5) / 1e6 AS share
    FROM w2 CROSS JOIN tot
    GROUP BY tok
    HAVING COUNT(*) > {HH_PHI} * MAX(tot.n)
"""

_ORACLES["t19_readability"] = """
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '[.!?]+'))
                AS BIGINT) AS n_sentences,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS n_syllables,
           FLOOR((206.835
                  - 1.015 * (GREATEST(1, len(regexp_extract_all(
                        lower(text), '[a-z0-9]+'))) * 1.0
                     / GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))))
                  - 84.6 * (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                     * 1.0
                     / GREATEST(1, len(regexp_extract_all(
                        lower(text), '[a-z0-9]+')))))
                 * 1e6 + 0.5) / 1e6 AS flesch
    FROM documents
"""

_ORACLES["s12_dim_stats"] = """
    WITH ex AS (
      SELECT generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings)
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(AVG(val) * 1e6 + 0.5) / 1e6 AS mean,
           FLOOR(VAR_SAMP(val) * 1e6 + 0.5) / 1e6 AS variance,
           MIN(val) AS min_val,
           MAX(val) AS max_val
    FROM ex GROUP BY dim
"""


# --- round-3 late additions: hybrid retrieval + adaptive filtering --------

BM25_TERMS = ("spark", "join", "window")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 20
RRF_POOL = 50
RRF_K = 60
RRF_TOPK = 20


def t24_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 lexical retrieval (ATIRE variant) for a literal query,
    top-20 documents. One scan with in-projection HOF term counts, one
    broadcast one-row stats join, TakeOrdered top-k — no wide shuffle
    (operators/text.bm25_scores)."""
    return text.bm25_scores(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        BM25_TERMS,
        k1=BM25_K1,
        b=BM25_B,
        k=BM25_TOPK,
    )


def s20_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    top-50 and the cosine vector top-50 (query = embedding of id 0; that
    id is excluded from both pools so neither ranker sees the query's own
    document). rrf = Σ 1/(60 + rank), missing-from-pool contributes 0 and
    surfaces as rank 0. Both pools come out of TakeOrdered paths, so the
    fusion join runs on O(pool) rows however large the corpus is."""
    from pyspark.sql import Window

    lex = text.bm25_scores(
        _docs(spark, sf_dir).filter(F.col("doc_id") != QUERY_VEC_ID),
        F.col("text"),
        F.col("doc_id"),
        BM25_TERMS,
        k1=BM25_K1,
        b=BM25_B,
        k=RRF_POOL,
    )
    # ranking the top-pool output: the window runs on <= RRF_POOL rows
    # (post-TakeOrdered), so the single-partition sort is O(pool), not
    # O(corpus)
    wl = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lexr = lex.select("doc_id", F.row_number().over(wl).alias("rank"))
    q = _query_vector(spark, sf_dir)
    vec = similarity.cosine_topk(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        q,
        k=RRF_POOL,
        exclude_id=QUERY_VEC_ID,
    )
    wv = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    vecr = vec.select(
        F.col("vec_id").alias("doc_id"), F.row_number().over(wv).alias("rank")
    )
    return similarity.rrf_fuse(lexr, vecr, "doc_id", rrf_k=RRF_K, k=RRF_TOPK)


def c21_adaptive_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language adaptive quality filtering (the FineWeb-style
    calibration step): instead of one global cutoff, each language's
    threshold is its own exact 25th-percentile quality score, and the
    entry reports per-language keep statistics.

    Exact group percentiles WITHOUT a per-document window sort: quality
    scores are 6dp-rounded, so (lang, quality) aggregation bounds the
    cumulated table at (languages × ~1.2M distinct values) REGARDLESS of
    corpus size — the cumulative-sum window runs over value-histogram
    rows, never documents. That is the scalable exact form; a per-doc
    row_number window would single-thread each language at 100 TB."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    ql = (
        text.quality_score(docs, F.col("text"), F.col("doc_id"))
        .select("doc_id", "quality")
        .join(docs.select("doc_id", "lang"), "doc_id")
    )
    counts = ql.groupBy("lang", "quality").agg(F.count(F.lit(1)).alias("cnt"))
    cum = counts.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy("lang").orderBy("quality"))
    )
    n_per = ql.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # 1-based p25 position over the per-language doc count
    target = F.floor((F.col("n_docs") - 1) / 4) + 1
    th = (
        cum.join(n_per, "lang")
        .filter(F.col("cum") >= target)
        .groupBy("lang")
        .agg(F.min("quality").alias("threshold"))
    )
    return (
        ql.join(F.broadcast(th), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("threshold").alias("threshold"),
            F.sum((F.col("quality") >= F.col("threshold")).cast("long")).alias(
                "n_kept"
            ),
        )
        .select(
            "lang",
            "n_docs",
            "threshold",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_docs"), 6).alias("kept_frac"),
        )
    )


def t25_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content novelty in ingest (doc_id) order: for each document, the
    fraction of its distinct k-gram shingles NOT already contributed by
    any earlier document — the marginal-information metric of an
    incremental dedup pipeline ('how much new content does this doc
    add'). t12 measures symmetric cross-doc overlap; this is the ordered
    first-occurrence variant.

    Shape: the dedup family's (doc_id, sh64) shingle kernel, one
    min-aggregate per shingle key, one join back, one per-doc aggregate —
    all (long, long) hash shuffles, never text. The shingle table feeds
    both the first-occurrence aggregate and the join-back, so it is
    materialized once (same double-kernel fix as t12)."""
    sh = dedup._materialize(
        dedup._shingle_table(
            _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), JACCARD_K
        )
    )
    firsts = sh.groupBy("sh64").agg(F.min("doc_id").alias("_first"))
    return (
        sh.join(firsts, "sh64")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_first") < F.col("doc_id")).cast("long")).alias(
                "n_seen"
            ),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_seen",
            F.round(
                1.0 - F.col("n_seen") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
    )


def v19_vector_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-store validation census over the embeddings table: null
    vectors, wrong dimensionality, non-finite components, zero norms,
    plus the norm range. One map-side projection + one scalar aggregate —
    the v01-style constraint check for the vector modality
    (operators/validate.vector_validity)."""
    from mbta_etl_spark.operators.validate import vector_validity

    return vector_validity(_emb(spark, sf_dir), "embedding", EMB_DIM)


_ORACLES["t25_ngram_novelty"] = f"""
    WITH {_SHINGLE_CTE},
    firsts AS (SELECT shingle, MIN(doc_id) AS first_doc
               FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_seen,
           ROUND(1.0 - CAST(SUM(CASE WHEN f.first_doc < s.doc_id
                                     THEN 1 ELSE 0 END) AS DOUBLE)
                       / COUNT(*), 6) AS novelty
    FROM sh s JOIN firsts f USING (shingle)
    GROUP BY s.doc_id
"""

_ORACLES["v19_vector_validity"] = f"""
    WITH f AS (
        SELECT CASE WHEN embedding IS NULL THEN 1 ELSE 0 END AS is_null,
               CASE WHEN embedding IS NULL THEN 0
                    WHEN len(embedding) <> {EMB_DIM} THEN 1 ELSE 0
               END AS wrong_dim,
               CASE WHEN embedding IS NULL THEN 0
                    WHEN len(list_filter(embedding::DOUBLE[],
                         x -> isnan(x) OR isinf(x))) > 0 THEN 1 ELSE 0
               END AS nonfinite,
               CASE WHEN embedding IS NULL THEN 0
                    WHEN list_sum(list_transform(embedding::DOUBLE[],
                         x -> x * x)) = 0 THEN 1 ELSE 0
               END AS zero_norm,
               CASE WHEN embedding IS NULL
                      OR len(list_filter(embedding::DOUBLE[],
                             x -> isnan(x) OR isinf(x))) > 0 THEN NULL
                    ELSE sqrt(list_sum(list_transform(embedding::DOUBLE[],
                         x -> x * x)))
               END AS nrm
        FROM embeddings)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(is_null) AS BIGINT) AS n_null,
           CAST(SUM(wrong_dim) AS BIGINT) AS n_wrong_dim,
           CAST(SUM(nonfinite) AS BIGINT) AS n_nonfinite,
           CAST(SUM(zero_norm) AS BIGINT) AS n_zero_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM f
"""


DUP_SPAN_W = 8


def d27_dup_span_extents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring span census (ExactSubstr dedup, Lee et
    al. 2022): every 8-token window occurring more than once corpus-wide,
    merged per document into maximal duplicated token spans. Unlike
    d01/d02 (whole-doc) and d03/d04 (set-similarity), this localizes
    duplication WITHIN documents — the operator behind span-level
    training-data redaction ('cut the duplicated span, keep the rest').
    Output: per affected doc, span count, longest span, union token
    coverage and covered fraction (operators/dedup.dup_span_extents)."""
    return dedup.dup_span_extents(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), DUP_SPAN_W
    )


_ORACLES["d27_dup_span_extents"] = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(t[i:i+{DUP_SPAN_W - 1}], ' ') AS win
      FROM toks, UNNEST(generate_series(
               1, GREATEST(len(t) - {DUP_SPAN_W} + 1, 0))) AS u(i)
    ),
    occ AS (SELECT win FROM wins GROUP BY win HAVING COUNT(*) >= 2),
    dup AS (SELECT w.doc_id, w.pos FROM wins w JOIN occ USING (win)),
    seq AS (SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM dup),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN prev IS NULL OR pos - prev > {DUP_SPAN_W}
                  THEN 1 ELSE 0 END AS newspan
      FROM seq),
    spanned AS (
      SELECT doc_id, pos,
             SUM(newspan) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      FROM flagged),
    spans AS (
      SELECT doc_id, span_id,
             MAX(pos) - MIN(pos) + {DUP_SPAN_W} AS span_len
      FROM spanned GROUP BY doc_id, span_id),
    perdoc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
             CAST(MAX(span_len) AS BIGINT) AS longest_span,
             CAST(SUM(span_len) AS BIGINT) AS covered_tokens
      FROM spans GROUP BY doc_id)
    SELECT p.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens, p.n_dup_spans,
           p.longest_span, p.covered_tokens,
           FLOOR(CAST(p.covered_tokens AS DOUBLE) / len(t.t) * 1e6 + 0.5)
               / 1e6 AS cover_frac
    FROM perdoc p JOIN toks t USING (doc_id)
"""


SEMDEDUP_THRESHOLD = 0.35


def d26_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs: k-means clusters as the
    candidate buckets, exact cosine verification WITHIN clusters only.
    d06 is the exact all-pairs baseline (O(n²/2) dots however blocked);
    this is the modern scale path — candidate work is Σ cluster_size²,
    which the cluster count controls, and the bucket join is an ordinary
    hash-partitioned equi-join on the cluster id. Pairs whose members
    land in different clusters are missed by design (the SemDeDup
    trade); d06 and d13-style audits measure that recall.

    Composes k01's deterministic Lloyd's assignment, so the DuckDB
    oracle replays the clustering CTE chain verbatim and the pair list
    is bit-reproducible."""
    emb = _emb(spark, sf_dir)
    assign = similarity.kmeans_fit_predict(
        emb, "embedding", "vec_id", n_iter=KMEANS_ITER
    ).select("vec_id", "cluster")
    e = assign.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "vec_id", "cluster", F.col("embedding").cast("array<double>").alias("_v")
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"),
        "cluster",
        F.col("_v").alias("_va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"),
        "cluster",
        F.col("_v").alias("_vb"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_va"), F.col("_vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def _nrm(c: str) -> "Column":
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col(c), F.col(c), lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    return (
        a.join(b, "cluster")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "cluster",
            "vec_a",
            "vec_b",
            F.round(dot / (_nrm("_va") * _nrm("_vb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= SEMDEDUP_THRESHOLD)
    )


def _bm25_ctes(where: str = "") -> str:
    """CTE chain base/stats/scored shared by the t24 and s20 oracles.
    Constants are written so every scalar is bit-identical to the Spark
    plan's doubles (0.5/0.75 exact, 1.2 nearest-double on both parsers);
    the (k1+1) factor is omitted by design (see text.bm25_scores)."""
    tf_cols = ",\n               ".join(
        f"len(list_filter(string_split(text, ' '), x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df{i}"
        for i in range(len(BM25_TERMS))
    )
    parts = "\n                 + ".join(
        f"LN(1.0 + (n_docs - df{i} + 0.5) / (df{i} + 0.5)) * tf{i}"
        f" / (tf{i} + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * doc_len / avgdl))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
        base AS (
            SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS doc_len,
               {tf_cols}
            FROM documents {where}),
        stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG(doc_len) AS avgdl,
               {df_cols}
            FROM base),
        scored AS (
            SELECT doc_id, doc_len,
               ROUND({parts}, 6) AS bm25
            FROM base, stats)
    """


_ORACLES["d26_semantic_dedup"] = f"""
    WITH assign AS ({{k01}}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    m AS (SELECT a.vec_id, a.cluster, e.v
          FROM assign a JOIN e USING (vec_id))
    SELECT x.cluster,
           x.vec_id AS vec_a,
           y.vec_id AS vec_b,
           ROUND({_dot('x.v', 'y.v')} /
                 (sqrt({_dot('x.v', 'x.v')}) * sqrt({_dot('y.v', 'y.v')})),
                 6) AS cosine
    FROM m x JOIN m y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
    WHERE ROUND({_dot('x.v', 'y.v')} /
                (sqrt({_dot('x.v', 'x.v')}) * sqrt({_dot('y.v', 'y.v')})),
                6) >= {SEMDEDUP_THRESHOLD}
"""
# splice k01's full Lloyd's-replay CTE chain in as the assignment source
_ORACLES["d26_semantic_dedup"] = _ORACLES["d26_semantic_dedup"].format(
    k01=_ORACLES["k01_kmeans_clusters"]
)

_ORACLES["t24_bm25"] = f"""
    WITH {_bm25_ctes()}
    SELECT doc_id, doc_len, bm25
    FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT {BM25_TOPK}
"""

_ORACLES["s20_hybrid_rrf"] = f"""
    WITH {_bm25_ctes(f"WHERE doc_id <> {QUERY_VEC_ID}")},
    lexr AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC)
                    AS BIGINT) AS rnk
        FROM (SELECT * FROM scored
              ORDER BY bm25 DESC, doc_id ASC LIMIT {RRF_POOL})),
    qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id = {QUERY_VEC_ID}),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cos AS (
        SELECT vec_id,
               ROUND({_dot('v', 'qv')} /
                     (sqrt({_dot('v', 'v')}) * sqrt({_dot('qv', 'qv')})),
                     6) AS cosine
        FROM e, qv WHERE vec_id <> {QUERY_VEC_ID}),
    vecr AS (
        SELECT vec_id AS doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, vec_id ASC)
                    AS BIGINT) AS rnk
        FROM (SELECT vec_id, cosine FROM cos
              ORDER BY cosine DESC, vec_id ASC LIMIT {RRF_POOL})),
    fused AS (
        SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
               CAST(COALESCE(l.rnk, 0) AS BIGINT) AS rank_a,
               CAST(COALESCE(v.rnk, 0) AS BIGINT) AS rank_b,
               ROUND(COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + l.rnk), 0)
                   + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + v.rnk), 0),
                     6) AS rrf
        FROM lexr l FULL OUTER JOIN vecr v ON l.doc_id = v.doc_id)
    SELECT doc_id, rank_a, rank_b, rrf
    FROM fused ORDER BY rrf DESC, doc_id ASC LIMIT {RRF_TOPK}
"""

_ORACLES["c21_adaptive_quality_filter"] = """
    WITH t AS (SELECT doc_id, text, lang,
                      string_split(text, ' ') AS toks FROM documents),
    q AS (
        SELECT doc_id, lang,
               ROUND(0.5 * LEAST(1.0, len(toks) / 100.0)
                   + 0.3 * (1 - len(list_filter(toks,
                         x -> x IN ('the', 'a', 'and', 'of', 'is')))
                         / len(toks))
                   + 0.2 * (1 - (length(text)
                         - length(regexp_replace(text, '[^a-z ]', '', 'g')))
                         / length(text)), 6) AS quality
        FROM t),
    counts AS (SELECT lang, quality, COUNT(*) AS cnt
               FROM q GROUP BY lang, quality),
    cum AS (SELECT lang, quality,
                   CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY quality)
                        AS BIGINT) AS cum
            FROM counts),
    np AS (SELECT lang, COUNT(*) AS n_docs FROM q GROUP BY lang),
    th AS (SELECT cum.lang, MIN(quality) AS threshold
           FROM cum JOIN np USING (lang)
           WHERE cum >= FLOOR((n_docs - 1) / 4.0) + 1
           GROUP BY cum.lang)
    SELECT q.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(threshold) AS threshold,
           CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS kept_frac
    FROM q JOIN th USING (lang) GROUP BY q.lang
"""


def d28_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical pick per duplicate cluster: d04's LSH pairs → d07's
    connected components → keep the highest-quality member (tie: min
    doc_id), with tokens_total / tokens_saved accounting per cluster.
    This is the keep/drop decision a real dedup pipeline executes after
    detection — the reference (queries.go) stops at detection, so this
    closes the pipeline end-to-end. Oracle replays the recursive-CTE
    components plus a window argmax over the shared quality expression."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_pairs(
        docs,
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
    )
    comp = dedup.connected_components(pairs)
    scored = text.quality_score(docs, F.col("text"), F.col("doc_id"))
    return dedup.canonical_selection(comp, scored)


_ORACLES["d28_canonical_selection"] = f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    {_minhash_pair_ctes()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    cc AS (
      SELECT a AS node, a AS label FROM edges
      UNION
      SELECT e.b AS node, cc.label FROM cc JOIN edges e ON cc.node = e.a
    ),
    comp AS (
      SELECT node AS doc_id, MIN(label) AS component FROM cc GROUP BY node
    ),
    docq AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             {{quality}} AS quality
      FROM (SELECT *, string_split(text, ' ') AS toks FROM documents) d
    ),
    ranked AS (
      SELECT c.component, d.doc_id, d.n_tokens, d.quality,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY d.quality DESC, d.doc_id ASC) AS rn
      FROM comp c JOIN docq d USING (doc_id)
    )
    SELECT component,
           MAX(CASE WHEN rn = 1 THEN doc_id END) AS canonical_doc,
           MAX(CASE WHEN rn = 1 THEN quality END) AS canonical_quality,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN rn > 1 THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_saved
    FROM ranked GROUP BY component
"""
_ORACLES["d28_canonical_selection"] = _ORACLES["d28_canonical_selection"].format(
    quality=_QUALITY_EXPR
)


EPOCH_BUDGET_TOKENS = 60_000
EPOCH_MAX = 4.0


def c22_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-allocation plan: the published-model data-mix table — per
    source, available tokens vs the target implied by the (normalized)
    mixture weights and a global token budget, epochs needed, epochs
    served under a max-repeat cap, and the deficit the cap leaves
    unfilled. Uses c02's MIX_WEIGHTS so the plan and the mixing operator
    describe the same recipe. One corpus groupBy; the rest runs on the
    #sources-row plan table (operators/sampling.epoch_plan)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.epoch_plan(
        docs,
        F.col("source"),
        F.size(F.split("text", " ")),
        MIX_WEIGHTS,
        EPOCH_BUDGET_TOKENS,
        EPOCH_MAX,
    )


_ORACLES["c22_epoch_plan"] = f"""
    WITH per AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
      FROM documents GROUP BY source
    ),
    wt AS (
      SELECT * FROM (VALUES {", ".join(f"('{k}', CAST({float(v)} AS DOUBLE))" for k, v in MIX_WEIGHTS.items())})
             AS w(source, weight)
    ),
    j AS (
      SELECT p.source, p.avail_tokens, w.weight
      FROM per p JOIN wt w USING (source) WHERE w.weight > 0
    ),
    n AS (
      SELECT *, FLOOR(weight / SUM(weight) OVER () * 1e6 + 0.5) / 1e6
                AS w_norm
      FROM j
    ),
    t AS (
      SELECT *, CAST(FLOOR(w_norm * {EPOCH_BUDGET_TOKENS}) AS BIGINT)
                AS target_tokens
      FROM n
    ),
    e AS (
      SELECT *, FLOOR(CAST(target_tokens AS DOUBLE) / avail_tokens * 1e6
                      + 0.5) / 1e6 AS epochs_needed
      FROM t
    ),
    s AS (
      SELECT *, LEAST(epochs_needed, {EPOCH_MAX}) AS epochs_served FROM e
    )
    SELECT source, avail_tokens, weight, w_norm, target_tokens,
           epochs_needed, epochs_served,
           CAST(FLOOR(epochs_served * avail_tokens) AS BIGINT)
               AS served_tokens,
           GREATEST(target_tokens
                    - CAST(FLOOR(epochs_served * avail_tokens) AS BIGINT),
                    0) AS deficit_tokens
    FROM s
"""


N_SHUFFLE_SHARDS = 16


def c23_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-shuffle shard map for dataloader prep: content-hash shard
    assignment (mod 16) + salted-md5 intra-shard order key — no global
    sort — with the per-shard audit (doc/token balance, source mixing,
    deterministic first/last order keys). The write path this audits is
    repartition(shard_id) + sortWithinPartitions(order_key)
    (operators/sampling.shuffle_shards)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.shuffle_shards(
        docs,
        F.col("doc_id"),
        F.col("source"),
        F.size(F.split("text", " ")),
        N_SHUFFLE_SHARDS,
    )


_ORACLES["c23_shuffle_shards"] = f"""
    WITH per AS (
      SELECT CAST(CAST(('0x' || substr(md5('shard' ||
                   CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                  % {N_SHUFFLE_SHARDS} AS BIGINT) AS shard_id,
             md5('shard' || CAST(doc_id AS VARCHAR)) AS order_key,
             source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(order_key) AS first_key,
           MAX(order_key) AS last_key
    FROM per GROUP BY shard_id
"""


def c24_epoch_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize c22's epoch plan into the actual training stream:
    every doc replicated floor(epochs_served) times plus a
    deterministic hash-fractional extra copy, then the per-source audit
    of achieved vs planned tokens (fill_ratio ~= 1; deviation is only
    fractional-hash rounding). Broadcast plan join + explode — no
    driver loop (operators/sampling.materialize_epochs)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    plan = c22_epoch_plan(spark, sf_dir)
    return sampling.materialize_epochs(
        docs,
        F.col("doc_id"),
        F.col("source"),
        F.size(F.split("text", " ")),
        plan,
    )


_ORACLES["c24_epoch_materialize"] = f"""
    WITH plan AS ({{c22}}),
    docs AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    j AS (
      SELECT d.doc_id, d.source, d.n_tokens, p.epochs_served,
             p.served_tokens
      FROM docs d JOIN plan p USING (source)
    ),
    c AS (
      SELECT *,
             CAST(FLOOR(epochs_served) AS BIGINT)
             + CASE WHEN {_bucket_sql('doc_id', 'epoch')}
                        < (epochs_served - FLOOR(epochs_served)) * 10000
                    THEN 1 ELSE 0 END AS copies
      FROM j
    )
    SELECT source,
           CAST(SUM(copies) AS BIGINT) AS emitted_rows,
           CAST(SUM(copies * n_tokens) AS BIGINT) AS achieved_tokens,
           MAX(served_tokens) AS served_tokens,
           FLOOR(CAST(SUM(copies * n_tokens) AS DOUBLE)
                 / MAX(served_tokens) * 1e6 + 0.5) / 1e6 AS fill_ratio
    FROM c WHERE copies > 0 GROUP BY source
"""
_ORACLES["c24_epoch_materialize"] = _ORACLES["c24_epoch_materialize"].format(
    c22=_ORACLES["c22_epoch_plan"]
)


def s21_ivf_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index persisted as a cell-partitioned TABLE and served from
    the layout: assignment is written once partitionBy(cell), and the
    query's nprobe cell filter becomes directory-level partition
    pruning on the read-back — the scan opens nprobe directories, not
    the corpus. This is the production shape of s05 (whose assignment
    is recomputed per query): on Spark, an ANN index IS a table layout.
    Same deterministic quantizer, so the result — and the oracle — are
    exactly s05's."""
    import os

    from mbta_etl_spark.sources.formats import scratch_dir

    emb = _emb(spark, sf_dir)
    q = _query_vector(spark, sf_dir)
    centroids = similarity.ivf_centroids(emb, "embedding", "vec_id")
    assigned = similarity.ivf_assign(emb, "embedding", "vec_id", centroids)
    tag = f"s21_{os.path.basename(sf_dir.rstrip('/'))}"
    path = scratch_dir(spark, tag)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)
    back = spark.read.parquet(path)
    cells = similarity.ivf_probe_cells(centroids, q, nprobe=2)
    cand = back.filter(F.col("cell").isin(cells)).filter(
        F.col("vec_id") != QUERY_VEC_ID
    )
    out = cand.select(
        "vec_id",
        "label",
        F.col("cell").cast("long").alias("cell"),
        similarity._pair_cos(F.col("embedding"), q).alias("cosine"),
    )
    return out.orderBy(F.desc("cosine"), F.asc("vec_id")).limit(TOPK)


_ORACLES["s21_ivf_persist"] = _ivf_topk_oracle()


RAG_CHUNK_W = 32
RAG_CHUNK_S = 24


def c25_overlap_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing-time chunking: sliding token windows with 25%
    overlap (W=32, stride=24) per document — the complement of c04's
    disjoint training packing; the overlap preserves context across
    chunk boundaries. One row per chunk with span, length, and overlap
    with the previous chunk (operators/sampling.overlap_chunks)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.overlap_chunks(
        docs,
        F.col("doc_id"),
        F.size(F.split("text", " ")),
        RAG_CHUNK_W,
        RAG_CHUNK_S,
    )


_ORACLES["c25_overlap_chunks"] = f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             CASE WHEN n <= {RAG_CHUNK_W} THEN CAST(1 AS BIGINT)
                  ELSE CAST(FLOOR((n - {RAG_CHUNK_W} + {RAG_CHUNK_S} - 1)
                                  / {RAG_CHUNK_S}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM t
    ),
    e AS (
      SELECT doc_id, n, CAST(u.i AS BIGINT) AS chunk_idx
      FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
    )
    SELECT doc_id, chunk_idx,
           chunk_idx * {RAG_CHUNK_S} AS start_tok,
           LEAST(chunk_idx * {RAG_CHUNK_S} + {RAG_CHUNK_W}, n) AS end_tok,
           LEAST(chunk_idx * {RAG_CHUNK_S} + {RAG_CHUNK_W}, n)
               - chunk_idx * {RAG_CHUNK_S} AS chunk_len,
           CASE WHEN chunk_idx = 0 THEN CAST(0 AS BIGINT)
                ELSE GREATEST(CAST(0 AS BIGINT),
                     LEAST((chunk_idx - 1) * {RAG_CHUNK_S} + {RAG_CHUNK_W}, n)
                     - chunk_idx * {RAG_CHUNK_S})
           END AS overlap_prev
    FROM e
"""


def d29_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level dedup census over the RAG index c25 defines:
    identical overlap-window chunks appearing more than once
    corpus-wide (the near-dup-document redundancy a retrieval index
    inherits), with the min-doc keep choice and the token savings of
    dropping the copies (operators/dedup.chunk_dedup_census)."""
    return dedup.chunk_dedup_census(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        RAG_CHUNK_W,
        RAG_CHUNK_S,
    )


_ORACLES["d29_chunk_dedup"] = f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks, n,
             CASE WHEN n <= {RAG_CHUNK_W} THEN CAST(1 AS BIGINT)
                  ELSE CAST(FLOOR((n - {RAG_CHUNK_W} + {RAG_CHUNK_S} - 1)
                                  / {RAG_CHUNK_S}.0) AS BIGINT) + 1
             END AS n_chunks
      FROM t
    ),
    e AS (
      SELECT doc_id, toks, n, CAST(u.i AS BIGINT) AS chunk_idx
      FROM c, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
    ),
    ch AS (
      SELECT doc_id, chunk_idx,
             LEAST(chunk_idx * {RAG_CHUNK_S} + {RAG_CHUNK_W}, n)
                 - chunk_idx * {RAG_CHUNK_S} AS chunk_len,
             md5(array_to_string(
                 toks[chunk_idx * {RAG_CHUNK_S} + 1
                      : LEAST(chunk_idx * {RAG_CHUNK_S} + {RAG_CHUNK_W}, n)],
                 ' ')) AS chunk_sha
      FROM e
    )
    SELECT chunk_sha,
           CAST(MAX(chunk_len) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keep_doc,
           CAST((COUNT(*) - 1) * MAX(chunk_len) AS BIGINT)
               AS tokens_redundant
    FROM ch GROUP BY chunk_sha HAVING COUNT(*) >= 2
"""


MEDIA_SHARD_BYTES = 2048


def m12_media_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style media shard packing: binary payloads walked in
    id order per source stream and greedily packed into ~2 KiB shards
    WITHOUT splitting a payload (a media file cannot straddle shards —
    the no-straddle dual c05 applies to tokens, here on bytes). Returns
    the per-shard census: item count, bytes used, fill ratio — the
    shard manifest a media dataloader reads. Packing reuses
    sampling.greedy_pack (per-source applyInPandas walk, O(1) state)."""
    from mbta_etl_spark.operators import sampling

    media = _docs(spark, sf_dir).select(
        "doc_id", "source", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    packed = sampling.greedy_pack(
        media, "source", "doc_id", F.octet_length("payload"), MEDIA_SHARD_BYTES
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return packed.groupBy("source", F.col("bin").alias("shard")).agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("n_tokens").cast("long").alias("shard_bytes"),
        r6(F.sum("n_tokens") / F.lit(float(MEDIA_SHARD_BYTES))).alias("fill_ratio"),
    )


_ORACLES["m12_media_shards"] = f"""
    WITH RECURSIVE base AS (
      SELECT source, doc_id,
             CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    packed AS (
      SELECT source, doc_id, n_bytes, rn, n_bytes AS fill,
             CAST(0 AS BIGINT) AS bin
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.source, b.doc_id, b.n_bytes, b.rn,
             CASE WHEN p.fill + b.n_bytes <= {MEDIA_SHARD_BYTES}
                  THEN p.fill + b.n_bytes ELSE b.n_bytes END,
             CASE WHEN p.fill + b.n_bytes <= {MEDIA_SHARD_BYTES}
                  THEN p.bin ELSE p.bin + 1 END
      FROM packed p JOIN base b ON b.source = p.source AND b.rn = p.rn + 1)
    SELECT source, bin AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes,
           FLOOR(SUM(n_bytes) / {MEDIA_SHARD_BYTES}.0 * 1e6 + 0.5) / 1e6
               AS fill_ratio
    FROM packed GROUP BY source, bin
"""


DSIR_TARGET = "src0"


def c27_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023): per-doc mean unigram
    log-likelihood ratio between the target source's Laplace-smoothed
    LM and the rest-of-corpus LM, reported per source — the resampling
    weight that steers raw data toward a target domain, with the
    target's own sources visibly scoring highest. Every accumulation is
    an int64 sum over a 1e-6-grid log-ratio pinned once in the vocab
    table (operators/text.dsir_importance)."""
    from mbta_etl_spark.operators import text as text_ops

    return text_ops.dsir_importance(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), "source", DSIR_TARGET
    )


_ORACLES["c27_dsir_importance"] = f"""
    WITH toks AS (
      SELECT doc_id, source, t.tok
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''),
    ct AS (SELECT tok, COUNT(*) AS ct FROM toks
           WHERE source = '{DSIR_TARGET}' GROUP BY 1),
    cc AS (SELECT tok, COUNT(*) AS cc FROM toks
           WHERE source <> '{DSIR_TARGET}' GROUP BY 1),
    tot AS (SELECT
        CAST(SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 1 ELSE 0 END)
             AS BIGINT) AS nt,
        CAST(SUM(CASE WHEN source = '{DSIR_TARGET}' THEN 0 ELSE 1 END)
             AS BIGINT) AS nc,
        CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
      FROM toks),
    vocab AS (
      SELECT w.tok,
             CAST(FLOOR(ln(
               ((CAST(COALESCE(ct.ct, 0) AS DOUBLE) + 1.0)
                / (CAST(t.nt AS DOUBLE) + CAST(t.v AS DOUBLE)))
               / ((CAST(COALESCE(cc.cc, 0) AS DOUBLE) + 1.0)
                  / (CAST(t.nc AS DOUBLE) + CAST(t.v AS DOUBLE))))
               * 1e6 + 0.5) AS BIGINT) AS l6
      FROM (SELECT DISTINCT tok FROM toks) w
      LEFT JOIN ct USING (tok) LEFT JOIN cc USING (tok) CROSS JOIN tot t),
    per_doc AS (
      SELECT k.source,
             CAST(FLOOR(CAST(SUM(v.l6) AS DOUBLE)
                        / CAST(COUNT(*) AS DOUBLE) + 0.5) AS BIGINT) AS s6
      FROM toks k JOIN vocab v USING (tok)
      GROUP BY k.doc_id, k.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(s6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5)
             / 1e6 AS mean_score,
           CAST(MIN(s6) AS DOUBLE) / 1e6 AS min_score,
           CAST(MAX(s6) AS DOUBLE) / 1e6 AS max_score
    FROM per_doc GROUP BY source ORDER BY source
"""


BLOOM_M, BLOOM_K = 4096, 3


def d30_bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination pre-screen with MEASURED false-
    positive rate: the held-out source's 8-gram keys fold into a
    4096-bit bloom (3 Carter-Wegman hashes over the 32-bit md5 prefix
    — MinHash's own family), every train shingle is probed against the
    bloom AND the exact key set, and each source reports grams / exact
    hits / bloom hits / false positives / FPR. The O(m)-memory scale
    path d08's broadcast probe degrades to when the benchmark no longer
    fits an executor — with its exactness cost quantified instead of
    assumed (operators/dedup.bloom_decontam_audit)."""
    docs = _docs(spark, sf_dir)
    return dedup.bloom_decontam_audit(
        docs.filter(F.col("source") != DECON_TEST_SOURCE),
        docs.filter(F.col("source") == DECON_TEST_SOURCE),
        F.col("text"),
        F.col("doc_id"),
        "source",
        k=DECON_K,
        m=BLOOM_M,
        n_hash=BLOOM_K,
    )


def _bloom_hashes_sql() -> tuple[str, int]:
    from mbta_etl_spark.operators.dedup import MINHASH_PRIME, _mh_a, _mh_b

    rows = ", ".join(f"({_mh_a(j)}, {_mh_b(j)})" for j in range(BLOOM_K))
    return rows, MINHASH_PRIME


_BLOOM_ROWS, _BLOOM_PRIME = _bloom_hashes_sql()

_ORACLES["d30_bloom_decontam"] = f"""
    WITH toks AS (SELECT doc_id, source, text, string_split(text, ' ') AS t
                  FROM documents),
    sh8 AS (
      SELECT doc_id, source, unnest(
        CASE WHEN len(t) >= {DECON_K}
             THEN list_distinct(list_transform(range(1, len(t) - {DECON_K - 2}),
                  i -> {_kgram_concat(DECON_K)}))
             ELSE [text] END) AS shingle
      FROM toks),
    keys AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT) AS sh64,
             CAST(('0x' || substr(md5(shingle), 1, 8)) AS UBIGINT) AS x
      FROM sh8),
    hashes AS (SELECT * FROM (VALUES {_BLOOM_ROWS}) h(a, b)),
    test_k AS (SELECT DISTINCT sh64, x FROM keys
               WHERE source = '{DECON_TEST_SOURCE}'),
    bits AS (
      SELECT DISTINCT ((h.a * t.x + h.b) % {_BLOOM_PRIME}) % {BLOOM_M} AS bit
      FROM test_k t CROSS JOIN hashes h),
    train_k AS (SELECT doc_id, source, sh64, x FROM keys
                WHERE source <> '{DECON_TEST_SOURCE}'),
    tpos AS (
      SELECT k.doc_id, k.sh64, k.x,
             ((h.a * k.x + h.b) % {_BLOOM_PRIME}) % {BLOOM_M} AS bit
      FROM train_k k CROSS JOIN hashes h),
    bhit AS (
      SELECT doc_id, sh64, x FROM tpos JOIN bits USING (bit)
      GROUP BY doc_id, sh64, x HAVING COUNT(*) = {BLOOM_K}),
    flags AS (
      SELECT k.doc_id, k.source,
             CASE WHEN b.sh64 IS NOT NULL THEN 1 ELSE 0 END AS is_bloom,
             CASE WHEN t.sh64 IS NOT NULL THEN 1 ELSE 0 END AS is_exact
      FROM train_k k
      LEFT JOIN bhit b ON k.doc_id = b.doc_id AND k.sh64 = b.sh64
      LEFT JOIN test_k t ON k.sh64 = t.sh64)
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(is_exact) AS BIGINT) AS n_exact,
           CAST(SUM(is_bloom) AS BIGINT) AS n_bloom,
           CAST(SUM(is_bloom) - SUM(is_exact) AS BIGINT) AS n_fp,
           FLOOR(CAST(SUM(is_bloom) - SUM(is_exact) AS DOUBLE)
                 / NULLIF(CAST(COUNT(*) - SUM(is_exact) AS DOUBLE), 0.0)
                 * 1e6 + 0.5) / 1e6 AS fpr
    FROM flags GROUP BY source ORDER BY source
"""


CMS_DEPTH, CMS_WIDTH, CMS_TOPK = 4, 64, 10


def r04_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch rollup audit over the corpus token stream:
    per-(source, row, col) cell counts of a 4×64 sketch as the stored
    mergeable partials (merge = cell-wise SUM, r01's algebra), the
    merged sketch probed for the exact top-10 tokens, each estimate
    beside the exact count and the one-sided overcount. The frequency
    member of the sketch-rollup family (r02 HLL distinct, r03 histogram
    quantiles) — answers point frequency queries over any partition
    subset with no token dictionary stored, at O(depth) read cost
    (operators/rollup.cms_rollup). Hashes are md5-derived, so the
    oracle replays every cell bit-for-bit."""
    from mbta_etl_spark.operators.rollup import cms_rollup

    # the sketch kernel computes depth md5 digests per TOKEN before the
    # first exchange — on a single-split scan that is ONE task; balance
    # the slim (source, text) projection before the explode so only
    # doc-sized rows cross the balancing exchange (r9; conditional,
    # no-op on multi-split inputs — guide §2.6, §2.3)
    toks = (
        core.balance_scan(_docs(spark, sf_dir).select("source", "text"))
        .select(
            F.explode(F.split(F.col("text"), " ")).alias("token"),
            "source",
        )
        .filter(F.col("token") != "")
    )
    return cms_rollup(
        toks, "token", "source", depth=CMS_DEPTH, width=CMS_WIDTH, topk=CMS_TOPK
    )


_ORACLES["r04_cms_rollup"] = f"""
    WITH toks AS (
      SELECT source, t.tok
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''),
    rows_ AS (SELECT r FROM generate_series(0, {CMS_DEPTH - 1}) g(r)),
    cells AS (
      SELECT source AS part, r,
             CAST(CAST(('0x' || substr(md5(tok || ':' || CAST(r AS VARCHAR)),
                                       1, 8)) AS UBIGINT)
                  % {CMS_WIDTH} AS BIGINT) AS c
      FROM toks CROSS JOIN rows_),
    partials AS (
      SELECT part, r, c, COUNT(*) AS cnt FROM cells GROUP BY 1, 2, 3),
    merged AS (
      SELECT r, c, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM partials GROUP BY 1, 2),
    exact AS (
      SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM toks GROUP BY 1
      ORDER BY exact_cnt DESC, token LIMIT {CMS_TOPK}),
    probes AS (
      SELECT e.token, e.exact_cnt, g.r,
             CAST(CAST(('0x' || substr(md5(e.token || ':'
                                           || CAST(g.r AS VARCHAR)), 1, 8))
                       AS UBIGINT) % {CMS_WIDTH} AS BIGINT) AS c
      FROM exact e CROSS JOIN rows_ g),
    est AS (
      SELECT p.token,
             MIN(p.exact_cnt) AS exact_cnt,
             CAST(MIN(m.cnt) AS BIGINT) AS est_cnt
      FROM probes p JOIN merged m USING (r, c) GROUP BY 1)
    SELECT token, exact_cnt, est_cnt, est_cnt - exact_cnt AS overcount
    FROM est ORDER BY exact_cnt DESC, token
"""


BPE_MERGE_TOPK = 20


def t26_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer TRAINING at corpus scale:
    count adjacent character pairs weighted by word frequency and rank
    the merge candidates (the pair a BPE trainer would merge first).
    The classic scaling trick: pair counting runs over the WORD
    FREQUENCY table (vocab-sized), not the corpus — one corpus-sized
    shuffle to build the vocab, then a vocab-sized explode + pair
    aggregation. Companion to t05 (applying a fixed merge table); this
    is where that table comes from."""
    docs = _docs(spark, sf_dir)
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("word_freq"))
    )
    pairs = vocab.withColumn(
        "i", F.explode(F.sequence(F.lit(1), F.length("word") - 1))
    ).select(
        F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"),
        "word_freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("word_freq").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_MERGE_TOPK)
    )


_ORACLES["t26_bpe_merge_candidates"] = f"""
    WITH vocab AS (
      SELECT w.word, CAST(COUNT(*) AS BIGINT) AS word_freq
      FROM documents, UNNEST(string_split(text, ' ')) AS w(word)
      WHERE length(w.word) >= 2
      GROUP BY w.word
    ),
    pairs AS (
      SELECT substr(word, CAST(u.i AS INT), 2) AS pair, word_freq
      FROM vocab, UNNEST(generate_series(1, length(word) - 1)) AS u(i)
    )
    SELECT pair, CAST(SUM(word_freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair ASC LIMIT {BPE_MERGE_TOPK}
"""


PAD_BUCKET_CAPS = (16, 24, 32, 48, 64, 96)


def c26_pad_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataloader padding economics over the corpus: every document is
    assigned to the smallest length bucket in an explicit cap ladder,
    and each bucket reports the padding a bucketed-batching dataloader
    pays versus naive pad-to-corpus-max — the measurement that decides
    where to place bucket boundaries (or to switch to packed batches,
    c04/c05). The top of the ladder (96) is deliberately below the
    corpus max so the overflow path (pad to observed max) is exercised.
    One corpus scan, a ≤7-group aggregate, and a broadcast 1-row global
    max (operators/sampling.pad_waste_census)."""
    from mbta_etl_spark.operators import sampling

    docs = _docs(spark, sf_dir)
    return sampling.pad_waste_census(
        docs, F.size(F.split("text", " ")), list(PAD_BUCKET_CAPS)
    )


_PAD_LADDER_SQL = " ".join(
    f"WHEN n <= {c} THEN CAST({c} AS BIGINT)" for c in PAD_BUCKET_CAPS
)

_ORACLES["c26_pad_waste"] = f"""
    WITH t AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    b AS (
      SELECT n, CASE {_PAD_LADDER_SQL} ELSE NULL END AS cap FROM t
    ),
    g AS (SELECT MAX(n) AS global_max FROM t),
    p AS (
      SELECT cap, CAST(COUNT(*) AS BIGINT) AS n_seqs,
             CAST(SUM(n) AS BIGINT) AS sum_tokens,
             CAST(MAX(n) AS BIGINT) AS max_in_bucket
      FROM b GROUP BY cap
    )
    SELECT COALESCE(cap, max_in_bucket) AS bucket_cap, n_seqs, sum_tokens,
           CAST(COALESCE(cap, max_in_bucket) * n_seqs - sum_tokens
                AS BIGINT) AS pad_tokens,
           FLOOR((COALESCE(cap, max_in_bucket) * n_seqs - sum_tokens) * 1.0
                 / (COALESCE(cap, max_in_bucket) * n_seqs) * 1e6 + 0.5) / 1e6
             AS waste_frac,
           CAST(g.global_max * n_seqs - sum_tokens AS BIGINT)
             AS naive_pad_tokens
    FROM p, g
"""


def s22_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign-projection retrieval audit: brute-force
    cosine top-k in a 64→16 projected space (deterministic ±1 matrix,
    operators/similarity.projection_matrix) against s01's exact top-k —
    overlap and recall@k in one row. The dimension-reduction tier a
    vector index runs in front of exact re-scoring: 4× less scan
    arithmetic and a 4× smaller materialized index column, priced here
    in recall. Counting stays in-plan (crossJoin of three 1-row
    aggregates); the heavy stages are two TakeOrdered scans."""
    q = _query_vector(spark, sf_dir)
    exact = s01_cosine_topk(spark, sf_dir).select("vec_id")
    proj = similarity.random_projection_topk(
        _emb(spark, sf_dir), "embedding", "vec_id", q,
        k=TOPK, exclude_id=QUERY_VEC_ID,
    ).select("vec_id")
    ne = exact.agg(F.count("*").alias("n_exact"))
    np_ = proj.agg(F.count("*").alias("n_proj"))
    nb = exact.join(proj, "vec_id").agg(F.count("*").alias("n_both"))
    recall = (
        F.floor(
            F.col("n_both")
            / F.when(F.col("n_exact") != 0, F.col("n_exact"))
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    return (
        ne.crossJoin(np_)
        .crossJoin(nb)
        .select("n_exact", "n_proj", "n_both", recall.alias("recall_at_k"))
    )


_RP_M_SQL = (
    "["
    + ", ".join(
        "[" + ", ".join(str(x) for x in row) + "]"
        for row in similarity.projection_matrix(EMB_DIM, similarity.RP_OUT_DIM)
    )
    + "]"
)


def _rp_proj(v: str) -> str:
    return (
        f"list_transform(range(1, {similarity.RP_OUT_DIM + 1}), k -> "
        f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> "
        f"{v}[i] * rpm.m[k][i])))"
    )


def _dot_rp(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(range(1, {similarity.RP_OUT_DIM + 1}), "
        f"i -> {a}[i] * {b}[i]))"
    )


_ORACLES["s22_random_projection"] = f"""
    WITH rpm AS (SELECT {_RP_M_SQL}::DOUBLE[][] AS m),
    q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {QUERY_VEC_ID}
    ),
    pq AS (SELECT {_rp_proj('qv')} AS pv FROM q, rpm),
    e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      WHERE vec_id <> {QUERY_VEC_ID}
    ),
    pe AS (SELECT vec_id, {_rp_proj('v')} AS pv FROM e, rpm),
    scored AS (
      SELECT pe.vec_id,
             ROUND({_dot_rp('pe.pv', 'pq.pv')} /
                   (sqrt({_dot_rp('pe.pv', 'pe.pv')})
                    * sqrt({_dot_rp('pq.pv', 'pq.pv')})), 6) AS pcos
      FROM pe, pq
    ),
    proj AS (SELECT vec_id FROM scored ORDER BY pcos DESC, vec_id LIMIT {TOPK}),
    exact AS ({_ORACLES["s01_cosine_topk"]}),
    ne AS (SELECT COUNT(*) AS n_exact FROM exact),
    np AS (SELECT COUNT(*) AS n_proj FROM proj),
    nb AS (SELECT COUNT(*) AS n_both
           FROM exact e JOIN proj p ON e.vec_id = p.vec_id)
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_proj AS BIGINT) AS n_proj,
           CAST(n_both AS BIGINT) AS n_both,
           FLOOR(n_both * 1.0 / NULLIF(n_exact, 0) * 1e6 + 0.5) / 1e6
             AS recall_at_k
    FROM ne, np, nb
"""


# --- Gopher rule battery / DoReMi reweighting / embedding decontam ---

GOPHER_BOUNDS = dict(
    min_words=15,
    max_words=90,
    word_len_bounds_c=(425, 475),
    top_share_pct=20,
    min_unique_pct=50,
    min_stopword_hits=2,
)


def t27_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-rule battery (Rae et al. 2021 A1.1) with per-rule
    violation attribution per source — bounds calibrated so every rule
    is active on the synthetic corpus (operators/text.gopher_rules_census).
    All five verdicts are integer cross-multiplications: engine-exact."""
    return text.gopher_rules_census(
        _docs(spark, sf_dir), F.col("text"), "source", **GOPHER_BOUNDS
    )


_GOPHER_STOP_SQL = ", ".join(f"'{w}'" for w in text.GOPHER_STOPWORDS)

_ORACLES["t27_gopher_rules"] = f"""
    WITH d AS (
      SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    m AS (
      SELECT source,
             len(toks) AS n,
             list_sum(list_transform(toks, t -> len(t))) AS sum_len,
             list_max(list_transform(list_distinct(toks),
                      w -> len(list_filter(toks, t -> t = w)))) AS top_cnt,
             len(list_distinct(toks)) AS uniq,
             len(list_filter(toks, t -> t IN ({_GOPHER_STOP_SQL}))) AS stop_hits
      FROM d),
    f AS (
      SELECT source,
             CASE WHEN n < {GOPHER_BOUNDS['min_words']}
                    OR n > {GOPHER_BOUNDS['max_words']} THEN 1 ELSE 0 END AS f1,
             CASE WHEN sum_len * 100 < n * {GOPHER_BOUNDS['word_len_bounds_c'][0]}
                    OR sum_len * 100 > n * {GOPHER_BOUNDS['word_len_bounds_c'][1]}
                  THEN 1 ELSE 0 END AS f2,
             CASE WHEN top_cnt * 100 > n * {GOPHER_BOUNDS['top_share_pct']}
                  THEN 1 ELSE 0 END AS f3,
             CASE WHEN uniq * 100 < n * {GOPHER_BOUNDS['min_unique_pct']}
                  THEN 1 ELSE 0 END AS f4,
             CASE WHEN stop_hits < {GOPHER_BOUNDS['min_stopword_hits']}
                  THEN 1 ELSE 0 END AS f5
      FROM m)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f1) AS BIGINT) AS fail_word_count,
           CAST(SUM(f2) AS BIGINT) AS fail_word_len,
           CAST(SUM(f3) AS BIGINT) AS fail_top_share,
           CAST(SUM(f4) AS BIGINT) AS fail_unique,
           CAST(SUM(f5) AS BIGINT) AS fail_stopword,
           CAST(SUM(CASE WHEN f1 + f2 + f3 + f4 + f5 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass,
           FLOOR(CAST(SUM(CASE WHEN f1 + f2 + f3 + f4 + f5 = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS pass_frac
    FROM f GROUP BY source ORDER BY source
"""


DOREMI_ETA_PCT = 50
DOREMI_ITERS = 8


def c28_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023): linear
    multiplicative-weights iteration on per-domain mean unigram
    surprisal, upweighting domains whose loss exceeds the mixture
    average (operators/sampling.doremi_domain_weights). Distributed
    stats, domain-count-bounded driver iteration, IEEE-exact oracle."""
    from mbta_etl_spark.operators import sampling

    return sampling.doremi_domain_weights(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        "source",
        eta_pct=DOREMI_ETA_PCT,
        n_iters=DOREMI_ITERS,
    )


def _doremi_oracle() -> str:
    """Unroll the DOREMI_ITERS multiplicative-weight steps as chained
    CTEs — each step is an int64 weighted sum plus IEEE-exact divisions,
    mirroring the driver-side loop operation for operation."""
    steps = []
    for t in range(DOREMI_ITERS):
        steps.append(
            f"""a{t} AS MATERIALIZED (SELECT CAST(SUM(w6 * l6) AS BIGINT) AS s FROM w{t}),
    u{t} AS MATERIALIZED (
      SELECT w.source, w.n_docs, w.n_toks, w.l6,
             w.w6 * GREATEST(CAST(1000000 + FLOOR(
               {DOREMI_ETA_PCT} * CAST(w.l6 * 1000000 - a.s AS DOUBLE) / 1e8
               + 0.5) AS BIGINT), 1) AS u
      FROM w{t} w CROSS JOIN a{t} a),
    s{t} AS MATERIALIZED (SELECT CAST(SUM(u) AS BIGINT) AS su FROM u{t}),
    w{t + 1} AS MATERIALIZED (
      SELECT source, n_docs, n_toks, l6,
             CAST(FLOOR(CAST(u AS DOUBLE) / CAST(su AS DOUBLE) * 1e6 + 0.5)
                  AS BIGINT) AS w6
      FROM u{t} CROSS JOIN s{t})"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, t.tok
      FROM documents, unnest(string_split(text, ' ')) AS t(tok)
      WHERE t.tok <> ''),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
    tc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
    vt AS (
      SELECT tok, CAST(FLOOR(-ln(CAST(c AS DOUBLE) / CAST(t.n AS DOUBLE))
                             * 1e6 + 0.5) AS BIGINT) AS s6
      FROM tc CROSS JOIN tot t),
    dom AS MATERIALIZED (
      SELECT k.source,
             CAST(COUNT(DISTINCT k.doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(FLOOR(CAST(SUM(v.s6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        + 0.5) AS BIGINT) AS l6
      FROM toks k JOIN vt v USING (tok) GROUP BY 1),
    kcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM dom),
    w0 AS MATERIALIZED (
      SELECT d.source, d.n_docs, d.n_toks, d.l6,
             CAST(FLOOR(1000000 / kc.k) AS BIGINT) AS w6
      FROM dom d CROSS JOIN kcnt kc),
    {chain}
    SELECT w.source, w.n_docs, w.n_toks,
           CAST(w.l6 AS DOUBLE) / 1e6 AS loss,
           CAST(CAST(FLOOR(1000000 / kc.k) AS BIGINT) AS DOUBLE) / 1e6
             AS w_init,
           CAST(w.w6 AS DOUBLE) / 1e6 AS w_final
    FROM w{DOREMI_ITERS} w CROSS JOIN kcnt kc ORDER BY w.source
"""


_ORACLES["c28_doremi_weights"] = _doremi_oracle()


DECONTAM_EVAL_LABEL = 0
DECONTAM_COS_THRESHOLD = 0.35


def d31_embed_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination census: train vectors whose max
    cosine against the eval-labelled set reaches the threshold, per
    label (operators/dedup.embedding_decontaminate) — the semantic
    complement of d08/d30's n-gram decontamination."""
    return dedup.embedding_decontaminate(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        "label",
        eval_label=DECONTAM_EVAL_LABEL,
        threshold=DECONTAM_COS_THRESHOLD,
    )


_ORACLES["d31_embed_decontam"] = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (SELECT v FROM e WHERE label = {DECONTAM_EVAL_LABEL}),
    tr AS (SELECT vec_id, label, v FROM e
           WHERE label <> {DECONTAM_EVAL_LABEL}),
    px AS (
      SELECT t.vec_id, t.label,
             MAX(ROUND(list_cosine_similarity(t.v, ev.v), 6)) AS peak
      FROM tr t CROSS JOIN ev GROUP BY 1, 2)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN peak >= {DECONTAM_COS_THRESHOLD} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           FLOOR(CAST(SUM(CASE WHEN peak >= {DECONTAM_COS_THRESHOLD}
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS flag_frac,
           MAX(peak) AS peak_cosine
    FROM px GROUP BY label ORDER BY label
"""



def d32_soft_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup downweighting census: every exact copy keeps weight
    1/n_copies instead of being deleted, per-source effective vs raw
    document and char mass plus the duplication tax
    (operators/dedup.soft_dedup_weights) — the retention-friendly
    alternative to d01's hard dedup policy."""
    return dedup.soft_dedup_weights(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), "source", "n_chars"
    )


_ORACLES["d32_soft_dedup"] = """
    WITH keyed AS (
      SELECT sha256(text) AS text_sha, source, n_chars FROM documents),
    sizes AS (
      SELECT text_sha, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM keyed GROUP BY 1),
    per_doc AS (
      SELECT k.source, k.n_chars,
             CAST(FLOOR(1e6 / s.n_copies + 0.5) AS BIGINT) AS w6
      FROM keyed k JOIN sizes s USING (text_sha)),
    g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars,
             CAST(SUM(w6) AS BIGINT) AS w_sum,
             CAST(SUM(n_chars * w6) AS BIGINT) AS cw_sum
      FROM per_doc GROUP BY 1)
    SELECT source, n_docs, n_chars,
           FLOOR(CAST(w_sum AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS eff_docs,
           FLOOR(CAST(cw_sum AS DOUBLE) / 1e6 * 1e6 + 0.5) / 1e6 AS eff_chars,
           FLOOR((1.0 - CAST(cw_sum AS DOUBLE)
                        / (CAST(n_chars AS DOUBLE) * 1e6))
                 * 1e6 + 0.5) / 1e6 AS dup_tax
    FROM g ORDER BY source
"""


def t28_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source census of per-doc mean bigram log-probability under
    an add-one-smoothed corpus bigram LM (operators/text.bigram_lm_score)
    — the order-2 CCNet/KenLM-style quality signal above t11's unigram
    score; only docs with ≥ 2 tokens participate."""
    return text.bigram_lm_score(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), "source"
    )


_ORACLES["t28_bigram_lm"] = """
    WITH tk AS (
      SELECT doc_id, source, tok, pos FROM (
        SELECT doc_id, source,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents)
      WHERE tok <> ''),
    seq AS (
      SELECT doc_id, source, tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
      FROM tk),
    pairs AS (
      SELECT a.doc_id, a.source, a.tok AS w1, b.tok AS w2
      FROM seq a JOIN seq b ON b.doc_id = a.doc_id AND b.rn = a.rn + 1),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
            FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1
            FROM pairs GROUP BY 1),
    vv AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM pairs),
    wt AS (
      SELECT c12.w1, c12.w2,
             CAST(FLOOR(ln((CAST(c12 AS DOUBLE) + 1.0)
                           / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))
                        * 1e6 + 0.5) AS BIGINT) AS l6
      FROM c12 JOIN ctx USING (w1), vv),
    pd AS (
      SELECT p.doc_id, p.source,
             CAST(FLOOR(CAST(SUM(l6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                        + 0.5) AS BIGINT) AS s6
      FROM pairs p JOIN wt ON wt.w1 = p.w1 AND wt.w2 = p.w2
      GROUP BY 1, 2)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(CAST(SUM(s6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5)
             / 1e6 AS mean_lp,
           CAST(MIN(s6) AS DOUBLE) / 1e6 AS min_lp,
           CAST(MAX(s6) AS DOUBLE) / 1e6 AS max_lp
    FROM pd GROUP BY source ORDER BY source
"""


PQ_SUBSPACES = 4
PQ_DIM = 64  # testdata embedding dimension (all SFs); Spark side reads it


def s23_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook report: k-means each of the 4
    contiguous 16-dim subspaces independently (deterministic k01
    replay per subspace), per-(subspace, code) occupancy and
    distortion (operators/similarity.pq_codebook) — the IVF-PQ
    compression readout (a vector becomes 4 small codes)."""
    return similarity.pq_codebook(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        n_sub=PQ_SUBSPACES,
        n_iter=KMEANS_ITER,
    )


def _pq_oracle() -> str:
    """Replays pq_codebook: the k01 k-means CTE chain per subspace over
    the sliced vectors, k02's census aggregate, UNION ALL across
    subspaces."""
    sub = PQ_DIM // PQ_SUBSPACES
    pieces = []
    for m in range(PQ_SUBSPACES):
        lo, hi = m * sub + 1, (m + 1) * sub
        vexpr = f"(embedding::DOUBLE[])[{lo}:{hi}]"
        pieces.append(f"""
        SELECT {m} AS subspace, cluster, n_members, mean_dist, max_dist,
               inertia
        FROM (
          WITH {_kmeans_prefix(vexpr)},
          a AS ({_KMEANS_ASSIGN_SQL.format(cent="c1")})
          SELECT cluster,
                 CAST(COUNT(*) AS BIGINT) AS n_members,
                 FLOOR(AVG(dist) * 1e6 + 0.5) / 1e6 AS mean_dist,
                 MAX(dist) AS max_dist,
                 FLOOR(SUM(dist * dist) * 1e6 + 0.5) / 1e6 AS inertia
          FROM a GROUP BY cluster
        )""")
    return " UNION ALL ".join(pieces) + " ORDER BY subspace, cluster"


_ORACLES["s23_pq_codebook"] = _pq_oracle()


SOURCE_KEYWORDS_K = 5
SOURCE_KEYWORDS_MIN_TF = 10


def t30_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keyword extraction by frequency LIFT: the terms whose
    in-source share most exceeds their corpus share — the "what is
    this slice about" labels a corpus card shows per source, one level
    up from t08's per-doc TF-IDF. Lift is the right statistic when the
    vocabulary is shared across sources (document-frequency IDF
    degenerates to zero the moment every term appears everywhere —
    measured: at sf0.1 every term has df = #sources); a min-tf floor
    keeps rare-term noise out of the top-K, lexicographic tie-break.

    Exactness: lift = (tf_s·len_corpus)/(len_s·tf_corpus) — int64
    cross-products (≤ ~1e13 at any realistic slice) and ONE pinned
    division per (source, term). Shape: one explode → per-(source,
    term) and per-term map-side-combinable counts → vocab-sized join →
    per-source rank window."""
    from pyspark.sql import Window

    toks = (
        _docs(spark, sf_dir)
        .select(
            "source", F.explode(F.split(F.col("text"), " ")).alias("term")
        )
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    lens = tf.groupBy("source").agg(F.sum("tf").alias("len_s"))
    corpus = tf.groupBy("term").agg(F.sum("tf").alias("tf_c"))
    total = corpus.agg(F.sum("tf_c").alias("_len_c"))
    d = lambda c: c.cast("double")  # noqa: E731
    lift6 = F.floor(
        d(F.col("tf") * F.col("_len_c"))
        / d(F.col("len_s") * F.col("tf_c"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    scored = (
        tf.filter(F.col("tf") >= SOURCE_KEYWORDS_MIN_TF)
        .join(F.broadcast(lens), "source")
        .join(corpus, "term")
        .crossJoin(F.broadcast(total))
        .select("source", "term", "tf", lift6.alias("l6"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("l6"), F.asc("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= SOURCE_KEYWORDS_K)
        .select(
            "source",
            F.col("_rn").alias("rank"),
            "term",
            "tf",
            (F.col("l6").cast("double") / F.lit(1e6)).alias("lift"),
        )
        .orderBy("source", "rank")
    )


_ORACLES["t30_source_keywords"] = f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS term
      FROM documents),
    nz AS (SELECT source, term FROM toks WHERE term <> ''),
    tf AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
           FROM nz GROUP BY 1, 2),
    lens AS (SELECT source, CAST(SUM(tf) AS BIGINT) AS len_s
             FROM tf GROUP BY 1),
    corpus AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS tf_c
               FROM tf GROUP BY 1),
    total AS (SELECT CAST(SUM(tf_c) AS BIGINT) AS len_c FROM corpus),
    scored AS (
      SELECT tf.source, tf.term, tf.tf,
             CAST(FLOOR(CAST(tf.tf * total.len_c AS DOUBLE)
                        / CAST(lens.len_s * corpus.tf_c AS DOUBLE)
                        * 1e6 + 0.5) AS BIGINT) AS l6
      FROM tf
      JOIN lens USING (source) JOIN corpus USING (term), total
      WHERE tf.tf >= {SOURCE_KEYWORDS_MIN_TF}),
    ranked AS (
      SELECT source, term, tf, l6,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY l6 DESC, term ASC) AS rank
      FROM scored)
    SELECT source, CAST(rank AS BIGINT) AS rank, term, tf,
           CAST(l6 AS DOUBLE) / 1e6 AS lift
    FROM ranked WHERE rank <= {SOURCE_KEYWORDS_K}
    ORDER BY source, rank
"""


FEATURE_HASH_BUCKETS = 512


def t31_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision census
    (operators/text.feature_hashing_census): the corpus vocabulary
    hashed into 512 feature slots (md5-bucket, the repo's portable
    recipe), reported as collision classes — how many slots hold 1, 2,
    3... distinct tokens and the token mass those slots carry. The
    sizing table for a hashed bag-of-words featurizer: mass in high-
    collision slots is the signal the hash width destroys."""
    from mbta_etl_spark.operators.text import feature_hashing_census

    return feature_hashing_census(
        _docs(spark, sf_dir), F.col("text"), n_buckets=FEATURE_HASH_BUCKETS
    )


_ORACLES["t31_feature_hashing"] = f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS occ
      FROM toks WHERE tok <> '' GROUP BY tok),
    slots AS (
      SELECT CAST(('0x' || substr(md5(tok), 1, 8)) AS UBIGINT)
               % {FEATURE_HASH_BUCKETS} AS slot,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(occ) AS BIGINT) AS occurrences
      FROM vocab GROUP BY 1)
    SELECT n_tokens AS collision_class,
           CAST(COUNT(*) AS BIGINT) AS n_slots,
           CAST(SUM(occurrences) AS BIGINT) AS total_occurrences
    FROM slots GROUP BY 1
"""


WINNOW_K = 3
WINNOW_W = 4
WINNOW_MIN_SHARED = 2
WINNOW_MAX_FP_DF = 50


def d41_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) containment candidates
    (operators/dedup.winnowing_pairs): positional k-gram hashes, window
    minima, distinct — docs sharing >= 2 fingerprints, df-capped. The
    guarantee MinHash doesn't give: any shared run of >= w+k-1 tokens
    yields a shared fingerprint, so boilerplate/quotation containment
    has a deterministic detection floor."""
    return dedup.winnowing_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=WINNOW_K,
        w=WINNOW_W,
        min_shared=WINNOW_MIN_SHARED,
        max_fp_df=WINNOW_MAX_FP_DF,
    )


_ORACLES["d41_winnowing_pairs"] = f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id,
            CASE WHEN len(toks) >= {WINNOW_K}
                 THEN list_transform(range(1, len(toks) - {WINNOW_K} + 2),
                        i -> CAST(('0x' || substr(md5(array_to_string(
                               list_slice(toks, i, i + {WINNOW_K} - 1), ' ')),
                               1, 15)) AS UBIGINT))
                 ELSE [CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT)]
            END AS gh
          FROM t),
    w AS (SELECT doc_id,
            CASE WHEN len(gh) >= {WINNOW_W}
                 THEN list_distinct(list_transform(
                        range(1, len(gh) - {WINNOW_W} + 2),
                        j -> list_aggregate(
                               list_slice(gh, j, j + {WINNOW_W} - 1), 'min')))
                 ELSE [list_aggregate(gh, 'min')]
            END AS fps
          FROM g),
    fp AS (SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM w),
    rare AS (SELECT fp FROM fp GROUP BY fp
             HAVING COUNT(*) <= {WINNOW_MAX_FP_DF}),
    kept AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
"""


SUBSTR_W = 8          # window width = suffix-prefix resolution (tokens)
SUBSTR_MIN_LEN = 12   # report pairs sharing a run of >= this many tokens
SUBSTR_MAX_WIN_OCC = 50  # boilerplate cap: drop windows in > N positions


def d42_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc exact-substring dedup (ExactSubstr, Lee et al. 2022 —
    VERDICT r4 item 5): doc pairs sharing an exact token run of >=
    SUBSTR_MIN_LEN tokens, with the exact longest-common-substring
    length, via distributed suffix-prefix blocks + diagonal run merge
    (operators/dedup.substring_dedup_pairs). Complements d27 (the
    per-document span census over the same window table) and d41
    (winnowing gives a probabilistic containment floor; this is the
    exact pairwise measurement). See COVERAGE.md for the d03/d41/d42
    recall comparison."""
    return dedup.substring_dedup_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        w=SUBSTR_W,
        min_len=SUBSTR_MIN_LEN,
        max_win_occ=SUBSTR_MAX_WIN_OCC,
    )


_ORACLES["d42_substring_dedup"] = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS win
      FROM toks, UNNEST(generate_series(
               1, GREATEST(len(t) - {SUBSTR_W} + 1, 0))) AS u(i)),
    keep AS (SELECT win FROM wins GROUP BY win
             HAVING COUNT(*) BETWEEN 2 AND {SUBSTR_MAX_WIN_OCC}),
    d AS (SELECT w.doc_id, w.pos, w.win FROM wins w JOIN keep USING (win)),
    m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.pos - b.pos AS diag, a.pos AS pa
          FROM d a JOIN d b ON a.win = b.win AND a.doc_id < b.doc_id),
    runs AS (SELECT doc_a, doc_b, diag, pa,
                    pa - ROW_NUMBER() OVER (
                      PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
             FROM m),
    rl AS (SELECT doc_a, doc_b, COUNT(*) AS r
           FROM runs GROUP BY doc_a, doc_b, diag, grp)
    SELECT doc_a, doc_b,
           CAST(MAX(r) + {SUBSTR_W - 1} AS BIGINT) AS lcs_tokens
    FROM rl GROUP BY doc_a, doc_b
    HAVING MAX(r) + {SUBSTR_W - 1} >= {SUBSTR_MIN_LEN}
"""


def st01_stream_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming/batch equivalence (VERDICT r4 item 7): the documents
    table replayed as 4 micro-batches through a real Structured
    Streaming pipeline — file source, stateful streaming groupBy
    (StateStore), foreachBatch snapshot sink — whose final standing
    table must equal the one-shot batch exact dedup (d01), which the
    DuckDB oracle replays. Covers the streaming family (unit-tested in
    tests/test_streaming.py) with a driver-hash-checked entry
    (streaming/dedup_stream.stream_exact_dedup_equiv)."""
    import os

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.dedup_stream import (
        stream_exact_dedup_equiv,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tag = f"st01_{os.path.basename(sf_dir.rstrip('/'))}"
    # the pin lives inside the helper since r9, where the landed log's
    # size is known to the data-adaptive derivation
    return stream_exact_dedup_equiv(docs, scratch_dir(spark, tag))


# st01: the streamed StateStore dedup must equal d01's one-shot batch
# dedup — ALIASED, not copied (the st02/st04 discipline), so a future
# fix to d01's oracle can never silently drift from st01's.
_ORACLES["st01_stream_batch_equiv"] = _ORACLES["d01_exact_dedup"]


ST03_PHI = 0.02  # heavy-hitter threshold (matches t18's batch entry)


def st03_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters made EXACT — the third streaming face
    beside st01 (engine StateStore) and st02 (mergeable table state):
    SKETCH state in the table. Document tokens replayed as 4
    micro-batches through streaming/frequent_stream.start_heavy_hitter_
    stream (foreachBatch Misra-Gries summarize + merge into a standing
    O(capacity) summary), then ONE exact recount of the final candidate
    set over the corpus. The MG merge guarantee — any token with true
    frequency > N/capacity survives the merged summary (Agarwal et al.
    PODS'12) — makes the streamed candidates a superset of the true
    heavy hitters, so recount + strict phi filter equals the exact
    batch answer (t18's oracle shape), no matter how the replay splits.
    State is O(capacity) rows regardless of stream length; the recount
    is one broadcast-semi pass."""
    import math
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.frequent_stream import (
        start_heavy_hitter_stream,
    )
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
        pinned_stream_parallelism,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    base = scratch_dir(spark, f"st03_{os.path.basename(sf_dir.rstrip('/'))}")
    in_dir = os.path.join(base, "input")
    tbl = os.path.join(base, "mg")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    land_replay_log(docs, in_dir, 4, "doc_id")
    toks_stream = (
        open_replay_stream(spark, in_dir, docs.schema)
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    capacity = max(1, math.ceil(1.0 / ST03_PHI))
    # sketch-state face, same per-partition economics: 7.1 s -> 3.8 s
    # at sf0.1 under the pin; the exact recount below runs OUTSIDE the
    # pin at full parallelism (it is a batch scan, not state machinery)
    with pinned_stream_parallelism(spark, n=4, input_dirs=[in_dir]):
        query = start_heavy_hitter_stream(
            toks_stream, tbl, ckpt, key="tok", capacity=capacity,
            available_now=True,
        )
        query.awaitTermination()
    candidates = spark.read.parquet(tbl).select("tok").distinct()
    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    total = toks.agg(F.count(F.lit(1)).alias("_total"))
    return (
        toks.join(F.broadcast(candidates), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") > F.lit(ST03_PHI) * F.col("_total"))
        .select(
            "tok",
            "n_occurrences",
            (
                F.floor(
                    F.col("n_occurrences") / F.col("_total") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("share"),
        )
    )


_ORACLES["st03_stream_heavy_hitters"] = f"""
    WITH w AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
    w2 AS (SELECT tok FROM w WHERE tok <> ''),
    tot AS (SELECT COUNT(*) AS n FROM w2)
    SELECT tok,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           FLOOR(COUNT(*) * 1.0 / MAX(tot.n) * 1e6 + 0.5) / 1e6 AS share
    FROM w2 CROSS JOIN tot
    GROUP BY tok
    HAVING COUNT(*) > {ST03_PHI} * MAX(tot.n)
"""


def d34_dup_aware_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware deterministic subsampling: each exact-dup copy kept
    with probability 1/n_copies via the salted-md5 bucket (no RNG —
    re-runs keep identical docs), per-source kept-vs-expected
    calibration (operators/dedup.dup_aware_sample_census) — the
    sampling-time form of d32's SoftDeDup weights."""
    return dedup.dup_aware_sample_census(
        _docs(spark, sf_dir), F.col("text"), F.col("doc_id"), "source"
    )


_ORACLES["d34_dup_aware_sample"] = f"""
    WITH keyed AS (
      SELECT sha256(text) AS text_sha, source, doc_id FROM documents),
    sizes AS (
      SELECT text_sha, CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM keyed GROUP BY 1),
    per_doc AS (
      SELECT k.source,
             CAST(FLOOR(1e6 / s.n_copies + 0.5) AS BIGINT) AS w6,
             CASE WHEN CAST({_bucket_sql('k.doc_id', 'dupsample')} AS BIGINT)
                       * s.n_copies < 10000
                  THEN 1 ELSE 0 END AS keep
      FROM keyed k JOIN sizes s USING (text_sha)),
    g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(keep) AS BIGINT) AS n_kept,
             CAST(SUM(w6) AS BIGINT) AS w_sum
      FROM per_doc GROUP BY 1)
    SELECT source, n_docs, n_kept,
           CAST(w_sum AS DOUBLE) / 1e6 AS expected,
           FLOOR(CAST(n_kept AS DOUBLE) * 1e6 / CAST(w_sum AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS kept_vs_expected
    FROM g ORDER BY source
"""


_ORACLES["d35_pointer_doubling"] = _ORACLES["d07_dup_clusters"]




def d35_pointer_doubling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by pointer jumping (path halving) over the
    same MinHash-LSH pair graph as d07 — the O(log diameter) deep-graph
    variant d07's docstring defers to, executed
    (operators/dedup.pointer_doubling_components). Identical output
    contract, verified by the same recursive-CTE oracle."""
    pairs = dedup.minhash_lsh_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
    )
    return dedup.pointer_doubling_components(pairs)


def c29_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length bucketing efficiency: docs binned by
    power-of-two token-length caps (the dataloader bucketing strategy),
    per bin: doc/token mass, the observed in-bucket max, the pad-waste
    fraction INSIDE the bucket (every doc padded to the bucket's
    observed max — what a bucketed dataloader actually does) vs the
    waste under naive global batching (every doc padded to the corpus
    max) — the delta is the whole argument for length-bucketed
    batching, and c26 measures the same thing for c05's packed bins.
    One scan projecting token counts, one 1-row broadcast for the
    global max, one tiny groupBy on the O(log max_len) bin key; every
    waste fraction is a pinned division of int64 token sums."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    n = F.size(F.filter(F.split(F.col("text"), " "), lambda x: x != ""))
    docs = (
        _docs(spark, sf_dir)
        .select(n.alias("n_tok"))
        .filter(F.col("n_tok") > 0)
    )
    binned = docs.select(
        "n_tok",
        F.pow(F.lit(2.0), F.ceil(F.log2(F.col("n_tok"))))
        .cast("long")
        .alias("bin_cap"),
    )
    gmax = binned.agg(F.max("n_tok").alias("_gmax"))
    g = binned.groupBy("bin_cap").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.max("n_tok").alias("bucket_max"),
    )
    d = lambda c: c.cast("double")  # noqa: E731
    return (
        g.crossJoin(F.broadcast(gmax))
        .select(
            "bin_cap",
            "n_docs",
            "n_tokens",
            "bucket_max",
            r6(
                F.lit(1.0)
                - d(F.col("n_tokens"))
                / d(F.col("n_docs") * F.col("bucket_max"))
            ).alias("bucket_waste"),
            r6(
                F.lit(1.0)
                - d(F.col("n_tokens")) / d(F.col("n_docs") * F.col("_gmax"))
            ).alias("global_waste"),
        )
        .orderBy("bin_cap")
    )


_ORACLES["c29_length_buckets"] = """
    WITH toks AS (
      SELECT len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_tok
      FROM documents),
    nz AS (SELECT n_tok FROM toks WHERE n_tok > 0),
    binned AS (
      SELECT n_tok,
             CAST(POW(2.0, CEIL(LOG2(n_tok))) AS BIGINT) AS bin_cap
      FROM nz),
    gmax AS (SELECT CAST(MAX(n_tok) AS BIGINT) AS gmax FROM binned),
    g AS (
      SELECT bin_cap,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(MAX(n_tok) AS BIGINT) AS bucket_max
      FROM binned GROUP BY 1)
    SELECT bin_cap, n_docs, n_tokens, bucket_max,
           FLOOR((1.0 - CAST(n_tokens AS DOUBLE)
                        / CAST(n_docs * bucket_max AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS bucket_waste,
           FLOOR((1.0 - CAST(n_tokens AS DOUBLE)
                        / CAST(n_docs * gmax.gmax AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS global_waste
    FROM g, gmax ORDER BY bin_cap
"""


def d33_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup method-agreement audit: the candidate-pair sets of d04
    (MinHash+LSH on shingle Jaccard) and d09 (SimHash banded hamming)
    compared as sets — pair counts per method, the intersection, and
    the pair-set Jaccard. The methodological readout that says whether
    the two detectors see the SAME near-dup structure or complementary
    slices (low agreement ⇒ run both; high ⇒ keep the cheaper one).
    Composes two verified pipelines; the join runs on their tiny pair
    outputs, never the corpus. Each pair set feeds TWO consumers (its
    count and the intersection join), so both are materialized once —
    without that, the full d04 and d09 pipelines would each execute
    twice (VERDICT r3 item 4: audit cost ≈ d04 + d09 + ε, not 2× each)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    # guide §2.6 (round 8): the two detector pipelines are independent
    # and each _materialize BLOCKS the driver on its eager checkpoint —
    # overlap them from two threads so the audit's wall is
    # max(d04, d09), not their sum. Results are bound by name.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_m = pool.submit(
            lambda: dedup._materialize(
                d04_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
            )
        )
        f_s = pool.submit(
            lambda: dedup._materialize(
                d09_simhash_band_pairs(spark, sf_dir).select("doc_a", "doc_b")
            )
        )
        m, s = f_m.result(), f_s.result()
    ma = m.agg(F.count(F.lit(1)).alias("n_minhash"))
    sa = s.agg(F.count(F.lit(1)).alias("n_simhash"))
    ba = m.join(s, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_both")
    )
    union = (
        F.col("n_minhash") + F.col("n_simhash") - F.col("n_both")
    ).cast("double")
    return (
        ma.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(ba))
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            F.when(
                union > 0, r6(F.col("n_both").cast("double") / union)
            )
            .otherwise(F.lit(0.0))
            .alias("pair_jaccard"),
        )
    )


_ORACLES["d33_method_agreement"] = f"""
    WITH m AS (SELECT doc_a, doc_b FROM ({_ORACLES["d04_minhash_lsh_pairs"]})),
    s AS (SELECT doc_a, doc_b FROM ({_ORACLES["d09_simhash_band_pairs"]})),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_minhash,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s) AS n_simhash,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM m JOIN s USING (doc_a, doc_b)) AS n_both)
    SELECT n_minhash, n_simhash, n_both,
           CASE WHEN (n_minhash + n_simhash - n_both) > 0 THEN
             FLOOR(CAST(n_both AS DOUBLE)
                   / CAST(n_minhash + n_simhash - n_both AS DOUBLE)
                   * 1e6 + 0.5) / 1e6
           ELSE 0.0 END AS pair_jaccard
    FROM c
"""


PQ_ADC_K = 10


def s24_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.pq_adc_topk):
    vectors reduced to 4 subspace codes, query distance = sum of
    (subspace, code) LUT entries — the search path the s23 codebooks
    exist for. Query = vec_id 0's embedding, excluded from results."""
    q = _query_vector(spark, sf_dir)
    return similarity.pq_adc_topk(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        q,
        k=PQ_ADC_K,
        n_sub=PQ_SUBSPACES,
        n_iter=KMEANS_ITER,
        exclude_id=QUERY_VEC_ID,
    )


def _pq_adc_oracle() -> str:
    """Replays pq_adc_topk: per subspace, the k01 CTE chain over the
    sliced vectors yields codes; the LUT is SUM over vector positions of
    the squared diff between the query slice and each final centroid
    (sequential index order — the same accumulation the Spark side's
    driver loop uses), pinned to the 1e-6 grid; total ADC distance is
    the integer sum of the four lookups."""
    sub = PQ_DIM // PQ_SUBSPACES
    blocks = []
    for m in range(PQ_SUBSPACES):
        lo, hi = m * sub + 1, (m + 1) * sub
        vexpr = f"(embedding::DOUBLE[])[{lo}:{hi}]"
        blocks.append(f"""
        (
          WITH {_kmeans_prefix(vexpr)},
          a AS ({_KMEANS_ASSIGN_SQL.format(cent="c1")}),
          qm AS (SELECT {vexpr} AS q FROM embeddings
                 WHERE vec_id = {QUERY_VEC_ID}),
          lut AS (
            SELECT cluster,
                   CAST(FLOOR(SUM((qm.q[pos] - x) * (qm.q[pos] - x))
                              * 1e6 + 0.5) AS BIGINT) AS d6
            FROM (SELECT cluster, generate_subscripts(cv, 1) AS pos,
                         unnest(cv) AS x
                  FROM c1) cc, qm
            GROUP BY cluster)
          SELECT a.vec_id, lut.d6 AS d6_{m}
          FROM a JOIN lut USING (cluster)
        ) m{m}""")
    joins = " JOIN ".join(
        [blocks[0]]
        + [f"{b} USING (vec_id)" for b in blocks[1:]]
    )
    total = " + ".join(f"d6_{m}" for m in range(PQ_SUBSPACES))
    return f"""
    SELECT vec_id,
           CAST({total} AS DOUBLE) / 1e6 AS adc_d2
    FROM {joins}
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY ({total}) ASC, vec_id ASC
    LIMIT {PQ_ADC_K}
    """


_ORACLES["s24_pq_adc_topk"] = _pq_adc_oracle()


def m13_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch-grid token budgeting (operators/multimodal.patch_grid)
    over the m02 fake-decode dims: patches-per-image, ViT token count
    (n_patches + 1 CLS), and grid pad waste — the image-side c26,
    computed from metadata only (no pixel decode). Pure integer
    Catalyst math on top of the mapInPandas dims frame."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.patch_grid(multimodal.fake_image_features(binary))


_ORACLES["m13_patch_grid"] = """
    WITH d AS (
      SELECT doc_id AS media_id,
             64 + CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 192
               AS width,
             64 + CAST(('0x' || substr(md5(text), 3, 2)) AS BIGINT) % 192
               AS height
      FROM documents),
    g AS (SELECT media_id, width, height,
                 (width + 15) // 16 AS nx,
                 (height + 15) // 16 AS ny
          FROM d)
    SELECT media_id, width, height,
           CAST(nx AS BIGINT) AS nx,
           CAST(ny AS BIGINT) AS ny,
           CAST(nx * ny AS BIGINT) AS n_patches,
           CAST(nx * ny + 1 AS BIGINT) AS vit_tokens,
           FLOOR((1.0 - CAST(width * height AS DOUBLE)
                        / CAST(nx * 16 * ny * 16 AS DOUBLE)) * 1e6 + 0.5)
             / 1e6 AS pad_frac
    FROM g
"""


def d36_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash compression audit
    (operators/dedup.bbit_minhash_audit): full-signature vs 1-bit
    Jaccard estimates against true Jaccard on d04's verified pairs —
    how much estimator the 32x signature shrink costs on THIS corpus."""
    return dedup.bbit_minhash_audit(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=JACCARD_THRESHOLD,
    )


_ORACLES["d36_bbit_minhash"] = f"""
    WITH RECURSIVE {{shingle}},
    {{pair_ctes}},
    est AS (
      SELECT p.doc_a, p.doc_b,
             SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS n_full,
             SUM(CASE WHEN ma.mh % 2 = mb.mh % 2 THEN 1 ELSE 0 END) AS n_bit
      FROM pairs p
      JOIN mh ma ON ma.doc_id = p.doc_a
      JOIN mh mb ON mb.doc_id = p.doc_b AND mb.seed = ma.seed
      GROUP BY 1, 2),
    jx AS (
      SELECT i.doc_a, i.doc_b,
             ROUND(i.n_inter / (sa.set_size + sb.set_size - i.n_inter), 6)
               AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b)
    SELECT e.doc_a, e.doc_b, j.jaccard,
           CAST(e.n_full AS BIGINT) AS n_full_match,
           CAST(e.n_bit AS BIGINT) AS n_bit_match,
           FLOOR(e.n_full / {dedup.NUM_HASHES}.0 * 1e6 + 0.5) / 1e6
             AS est_full,
           FLOOR((2.0 * e.n_bit / {dedup.NUM_HASHES}.0 - 1.0) * 1e6 + 0.5)
             / 1e6 AS est_1bit
    FROM est e JOIN jx j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
""".format(shingle=_SHINGLE_CTE, pair_ctes=_minhash_pair_ctes())


NDCG_DISCOUNTS = {
    p: int(math.floor(1e6 / math.log2(p + 1) + 0.5)) for p in range(1, TOPK + 1)
}


def s26_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k of the LSH-bucketed search (s02) against the exact
    cosine top-k (s01) as binary ground truth — the position-aware
    complement of s11's set recall: a sketch that finds the right
    neighbors in the wrong ORDER loses DCG that recall can't see.

    Cross-engine exactness: the per-position discounts 1/log2(pos+1)
    are pinned to the 1e-6 integer grid DRIVER-side (no libm in either
    engine) and the DCG is an integer sum — order-free — with one
    pinned division at the end."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    from pyspark.sql import Window

    q = _query_vector(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    lsh = similarity.lsh_topk(
        emb, "embedding", "vec_id", q, k=TOPK, exclude_id=QUERY_VEC_ID
    )
    exact = similarity.cosine_topk(
        emb, "embedding", "vec_id", q, k=TOPK, exclude_id=QUERY_VEC_ID
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    ranked = lsh.select("vec_id", "cosine").withColumn(
        "pos", F.row_number().over(w)
    )
    rel = exact.select("vec_id", F.lit(1).alias("rel"))
    dmap = F.create_map(
        *[
            x
            for p, v in NDCG_DISCOUNTS.items()
            for x in (F.lit(p), F.lit(v))
        ]
    )
    idcg = sum(NDCG_DISCOUNTS.values())
    j = ranked.join(F.broadcast(rel), "vec_id", "left").select(
        F.coalesce("rel", F.lit(0)).alias("rel"),
        (F.coalesce("rel", F.lit(0)) * F.element_at(dmap, F.col("pos"))).alias(
            "g"
        ),
    )
    return j.agg(
        F.sum("rel").cast("long").alias("n_hits"),
        F.sum("g").cast("long").alias("dcg_scaled"),
    ).select(
        F.lit(TOPK).cast("long").alias("k"),
        "n_hits",
        "dcg_scaled",
        F.lit(idcg).cast("long").alias("idcg_scaled"),
        r6(F.col("dcg_scaled").cast("double") / F.lit(float(idcg))).alias(
            "ndcg"
        ),
    )


def _ndcg_oracle() -> str:
    disc_case = " ".join(
        f"WHEN {p} THEN {v}" for p, v in NDCG_DISCOUNTS.items()
    )
    idcg = sum(NDCG_DISCOUNTS.values())
    return f"""
    WITH lsh AS ({_lsh_topk_oracle()}),
    exact AS ({_cosine_topk_oracle()}),
    ranked AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS pos
      FROM lsh),
    rel AS (SELECT vec_id, 1 AS rel FROM exact),
    j AS (
      SELECT COALESCE(r.rel, 0) AS rel,
             COALESCE(r.rel, 0) * (CASE pos {disc_case} END) AS g
      FROM ranked LEFT JOIN rel r USING (vec_id))
    SELECT CAST({TOPK} AS BIGINT) AS k,
           CAST(SUM(rel) AS BIGINT) AS n_hits,
           CAST(SUM(g) AS BIGINT) AS dcg_scaled,
           CAST({idcg} AS BIGINT) AS idcg_scaled,
           FLOOR(SUM(g) / {idcg}.0 * 1e6 + 0.5) / 1e6 AS ndcg
    FROM j
    """


_ORACLES["s26_ndcg_audit"] = _ndcg_oracle()


LSH_PLAN_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]


def _lsh_plan_rows() -> list[tuple[int, int, int, float, float]]:
    """(n_bands, rows_per_band, j_bucket, p_candidate, p_miss) literals:
    the S-curve P = 1-(1-J^r)^b evaluated at each J-decile midpoint,
    pinned to 6dp DRIVER-side so both engines multiply identical
    constants (no pow() in either engine)."""
    rows = []
    for b, r in LSH_PLAN_CONFIGS:
        for bucket in range(10):
            jm = (bucket + 0.5) / 10.0
            p = 1.0 - (1.0 - jm**r) ** b
            p6 = math.floor(p * 1e6 + 0.5) / 1e6
            pm6 = math.floor((1.0 - p6) * 1e6 + 0.5) / 1e6
            rows.append((b, r, bucket, p6, pm6))
    return rows


def d37_lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding planner: for every (bands, rows) split of the 16-hash
    signature budget, the expected candidate yield and expected misses
    per observed Jaccard decile of THIS corpus — d14's single-config
    S-curve turned into the decision table that picks the banding
    before a 100 TB dedup run commits to one. The observed histogram is
    d03's exact capped-df pair table (one bounded self-join) bucketed to
    deciles; the 50 S-curve probabilities are pure driver literals
    joined on the bucket key — per-row cost is two pinned multiplies."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=0.000001,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
    )
    hist = (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
            .cast("long")
            .alias("j_bucket")
        )
        .groupBy("j_bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    plan = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("n_bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                F.lit(bucket).cast("long").alias("j_bucket"),
                F.lit(p).alias("p_candidate"),
                F.lit(pm).alias("p_miss"),
            )
            for b, r, bucket, p, pm in _lsh_plan_rows()
        ]
    )
    grid = spark.range(1).select(F.explode(plan).alias("s")).select("s.*")
    n = F.col("n_pairs").cast("double")
    return grid.join(F.broadcast(hist), "j_bucket").select(
        "n_bands",
        "rows_per_band",
        "j_bucket",
        "n_pairs",
        "p_candidate",
        r6(n * F.col("p_candidate")).alias("exp_candidates"),
        r6(n * F.col("p_miss")).alias("exp_misses"),
    )


def _lsh_planner_oracle() -> str:
    vals = ", ".join(
        f"({b}, {r}, {bucket}, {p!r}, {pm!r})"
        for b, r, bucket, p, pm in _lsh_plan_rows()
    )
    return f"""
    WITH {_SHINGLE_CTE},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) <= {JACCARD_MAX_SHINGLE_DF}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    csizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
               AS jaccard
      FROM inter
      JOIN csizes sa ON sa.doc_id = doc_a
      JOIN csizes sb ON sb.doc_id = doc_b
      WHERE ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
              >= 0.000001
    ),
    hist AS (
      SELECT CAST(LEAST(FLOOR(jaccard * 10), 9) AS BIGINT) AS j_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM jp GROUP BY 1
    ),
    grid(n_bands, rows_per_band, j_bucket, p_candidate, p_miss)
      AS (VALUES {vals})
    SELECT CAST(n_bands AS BIGINT) AS n_bands,
           CAST(rows_per_band AS BIGINT) AS rows_per_band,
           g.j_bucket, h.n_pairs, g.p_candidate,
           FLOOR(h.n_pairs * g.p_candidate * 1e6 + 0.5) / 1e6
             AS exp_candidates,
           FLOOR(h.n_pairs * g.p_miss * 1e6 + 0.5) / 1e6 AS exp_misses
    FROM grid g JOIN hist h ON h.j_bucket = g.j_bucket
    """


_ORACLES["d37_lsh_planner"] = _lsh_planner_oracle()


FILTERED_ANN_LABEL = 2


def s27_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (the pgvector/Qdrant `WHERE label = ?`
    capability): exact cosine top-k restricted to one metadata label —
    the PRE-filter strategy, where the predicate prunes the scan before
    any distance is computed (pushable to the parquet reader; at scale,
    to the partition layout). Each hit is annotated with whether a
    POST-filter strategy (global top-k, then filter) would have found
    it — the rows marked false are exactly the recall a post-filtering
    engine silently loses. Cost: one filtered s01 scan plus a k-row
    broadcast membership probe."""
    q = _query_vector(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    pre = similarity.cosine_topk(
        emb.filter(F.col("label") == FILTERED_ANN_LABEL),
        "embedding",
        "vec_id",
        q,
        k=TOPK,
        exclude_id=QUERY_VEC_ID,
    )
    global_topk = similarity.cosine_topk(
        emb, "embedding", "vec_id", q, k=TOPK, exclude_id=QUERY_VEC_ID
    ).select("vec_id", F.lit(True).alias("in_postfilter"))
    return pre.join(F.broadcast(global_topk), "vec_id", "left").select(
        "vec_id",
        "label",
        "cosine",
        F.coalesce("in_postfilter", F.lit(False)).alias("in_postfilter"),
    )


def _filtered_ann_oracle() -> str:
    return f"""
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = {QUERY_VEC_ID}),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT vec_id, label,
             ROUND({_dot('v', 'qv')} /
                   (sqrt({_dot('v', 'v')}) * sqrt({_dot('qv', 'qv')})), 6)
               AS cosine
      FROM e, q WHERE vec_id <> {QUERY_VEC_ID}),
    pre AS (
      SELECT vec_id, label, cosine FROM scored
      WHERE label = {FILTERED_ANN_LABEL}
      ORDER BY cosine DESC, vec_id ASC LIMIT {TOPK}),
    gl AS (
      SELECT vec_id FROM scored
      ORDER BY cosine DESC, vec_id ASC LIMIT {TOPK})
    SELECT p.vec_id, p.label, p.cosine,
           (p.vec_id IN (SELECT vec_id FROM gl)) AS in_postfilter
    FROM pre p
    """


_ORACLES["s27_filtered_ann"] = _filtered_ann_oracle()


CDC_GRAM = 3  # breakpoint hash looks at the trailing 3-token window
CDC_DIVISOR = 8  # expected chunk length ~= divisor tokens


def d39_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC storage-dedup
    primitive, token-granular): a chunk boundary falls wherever the
    rolling 3-token hash ≡ 0 (mod 8), so boundaries move WITH content —
    an insertion reshuffles only the chunks it touches, where d29's
    fixed windows shift every downstream chunk. Output is the cross-doc
    duplicate-chunk census (the dedup such chunking exists for): sha,
    copies, docs, keep-min choice, redundant tokens. One posexplode +
    per-doc window cumsum for chunk ids, one concat per chunk, one
    sha-keyed census — shuffles on (doc, pos ordering) and the digest,
    both well-distributed."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ",
        *[
            F.lag("tok", CDC_GRAM - 1 - i).over(w)
            for i in range(CDC_GRAM)
        ],
    )
    h = (
        F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")
        % CDC_DIVISOR
    )
    bp = (
        (F.col("pos") >= CDC_GRAM - 1) & (h == 0)
    ).cast("long")
    staged = toks.select("doc_id", "pos", "tok", bp.alias("bp"))
    chunk = F.coalesce(
        F.sum("bp").over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    chunks = (
        staged.select("doc_id", "pos", "tok", chunk.alias("chunk"))
        .groupBy("doc_id", "chunk")
        .agg(
            F.count(F.lit(1)).alias("chunk_len"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("chunk_text"),
        )
    )
    return (
        chunks.groupBy(F.md5("chunk_text").alias("chunk_sha"))
        .agg(
            F.max("chunk_len").alias("chunk_len"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc"),
            ((F.count(F.lit(1)) - 1) * F.max("chunk_len")).alias(
                "tokens_redundant"
            ),
        )
        .filter(F.col("n_copies") >= 2)
    )


_ORACLES["d39_cdc_chunking"] = f"""
    WITH t0 AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    toks AS (
      SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, toks[u.i] AS tok
      FROM t0, UNNEST(generate_series(1, len(toks))) AS u(i)),
    grams AS (
      SELECT doc_id, pos, tok,
             concat_ws(' ',
               LAG(tok, {CDC_GRAM - 1})
                 OVER (PARTITION BY doc_id ORDER BY pos),
               LAG(tok, {CDC_GRAM - 2})
                 OVER (PARTITION BY doc_id ORDER BY pos),
               tok) AS gram
      FROM toks),
    bps AS (
      SELECT doc_id, pos, tok,
             CASE WHEN pos >= {CDC_GRAM - 1}
                   AND CAST(('0x' || substr(md5(gram), 1, 8)) AS UBIGINT)
                         % {CDC_DIVISOR} = 0
                  THEN 1 ELSE 0 END AS bp
      FROM grams),
    assigned AS (
      SELECT doc_id, pos, tok,
             COALESCE(SUM(bp) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk
      FROM bps),
    chunks AS (
      SELECT doc_id, chunk,
             CAST(COUNT(*) AS BIGINT) AS chunk_len,
             string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      FROM assigned GROUP BY doc_id, chunk)
    SELECT md5(chunk_text) AS chunk_sha,
           CAST(MAX(chunk_len) AS BIGINT) AS chunk_len,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keep_doc,
           CAST((COUNT(*) - 1) * MAX(chunk_len) AS BIGINT)
             AS tokens_redundant
    FROM chunks GROUP BY 1 HAVING COUNT(*) >= 2
"""


def d40_chunker_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window (d29) vs content-defined (d39) chunking, scored on
    the same corpus: duplicate chunks found, docs involved, and tokens
    reclaimable under each strategy — the measured basis for choosing
    the chunker before building a chunk-level dedup index. Two existing
    pipelines + one 2-row aggregate each."""

    def _summ(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_dup_chunks"),
            F.sum("n_copies").alias("n_copies"),
            F.sum("tokens_redundant").alias("tokens_redundant"),
        ).select(F.lit(tag).alias("chunker"), "*")

    fixed = _summ(d29_chunk_dedup(spark, sf_dir), "fixed_window")
    cdc = _summ(d39_cdc_chunking(spark, sf_dir), "cdc")
    return fixed.unionByName(cdc)


_ORACLES["d40_chunker_comparison"] = """
    WITH fixed AS ({d29}),
    cdc AS ({d39})
    SELECT 'fixed_window' AS chunker,
           CAST(COUNT(*) AS BIGINT) AS n_dup_chunks,
           CAST(SUM(n_copies) AS BIGINT) AS n_copies,
           CAST(SUM(tokens_redundant) AS BIGINT) AS tokens_redundant
    FROM fixed
    UNION ALL
    SELECT 'cdc',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_copies) AS BIGINT),
           CAST(SUM(tokens_redundant) AS BIGINT)
    FROM cdc
""".format(
    d29=_ORACLES["d29_chunk_dedup"], d39=_ORACLES["d39_cdc_chunking"]
)


def m14_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow kernel tier (operators/multimodal.arrow_byte_stats):
    byte stats computed entirely in vectorized Arrow compute — no
    pandas materialization, no per-element Python — the lowest-overhead
    Python kernel Spark offers, demonstrated next to m01's mapInPandas
    form of the same job."""
    binary = multimodal.to_binary_table(_docs(spark, sf_dir), "text", "doc_id")
    return multimodal.arrow_byte_stats(binary)


_ORACLES["m14_arrow_byte_stats"] = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(text, 1, 4) AS head,
           CASE WHEN length(text) <= 4 THEN text
                ELSE substr(text, length(text) - 3, 4) END AS tail
    FROM documents
"""


def d38_removal_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold → removal-budget calibration: for each candidate
    Jaccard cutoff (0.1 … 0.9), how many DOCUMENTS the keep-min rule
    would drop and what corpus fraction that is — the inverse question
    of d18's pair bands ("which threshold fits my 5% removal budget",
    not "how are pairs distributed"). A doc's fate at cutoff t depends
    only on its STRONGEST link (max pair Jaccard as the kept-side
    partner), so the sweep is one max-aggregate per doc, a 9-row band
    census, and a descending cumulative window — all on the capped-df
    pair table; nothing rescans text."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    from pyspark.sql import Window

    pairs = dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir),
        F.col("text"),
        F.col("doc_id"),
        k=JACCARD_K,
        threshold=SWEEP_MIN_J,
        max_shingle_df=JACCARD_MAX_SHINGLE_DF,
    )
    mj = pairs.groupBy("doc_b").agg(F.max("jaccard").alias("mj"))
    bands = (
        mj.select(
            F.least(F.floor(F.col("mj") * 10), F.lit(9))
            .cast("long")
            .alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_band"))
    )
    grid = spark.range(1, 10).select(F.col("id").cast("long").alias("band"))
    filled = grid.join(bands, "band", "left").select(
        "band", F.coalesce("n_band", F.lit(0)).alias("n_band")
    )
    w = Window.orderBy(F.desc("band")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n_docs = _docs(spark, sf_dir).count()
    return filled.select(
        (F.col("band").cast("double") / 10).alias("threshold"),
        F.sum("n_band").over(w).cast("long").alias("n_removed"),
    ).select(
        "threshold",
        "n_removed",
        r6(F.col("n_removed").cast("double") / F.lit(float(n_docs))).alias(
            "removal_frac"
        ),
    )


def _removal_budget_oracle() -> str:
    return f"""
    WITH {_SHINGLE_CTE},
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) <= {JACCARD_MAX_SHINGLE_DF}
    ),
    shc AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
    csizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shc GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shc a JOIN shc b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jp AS (
      SELECT doc_b,
             ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
               AS jaccard
      FROM inter
      JOIN csizes sa ON sa.doc_id = doc_a
      JOIN csizes sb ON sb.doc_id = doc_b
      WHERE ROUND(n_inter / (sa.set_size + sb.set_size - n_inter), 6)
              >= {SWEEP_MIN_J}
    ),
    mj AS (SELECT doc_b, MAX(jaccard) AS mj FROM jp GROUP BY doc_b),
    bands AS (
      SELECT CAST(LEAST(FLOOR(mj * 10), 9) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n_band
      FROM mj GROUP BY 1),
    grid AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS band),
    filled AS (
      SELECT g.band, COALESCE(b.n_band, 0) AS n_band
      FROM grid g LEFT JOIN bands b ON b.band = g.band),
    cum AS (
      SELECT band,
             CAST(SUM(n_band) OVER (ORDER BY band DESC
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_removed
      FROM filled)
    SELECT CAST(band AS DOUBLE) / 10 AS threshold, n_removed,
           FLOOR(CAST(n_removed AS DOUBLE)
                 / (SELECT COUNT(*) FROM documents) * 1e6 + 0.5) / 1e6
             AS removal_frac
    FROM cum
    """


_ORACLES["d38_removal_budget"] = _removal_budget_oracle()


def c30_multimodal_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source multimodal training-token budget: every document
    contributes its BPE text tokens (t05's counter) AND the ViT patch
    tokens of its paired image (m13's grid over the m02 fake decode) —
    the combined number an image-text training run actually pays for a
    sample. Reports per-source doc counts, both token pools, and the
    image share of the budget. One doc-id co-keyed join of two
    metadata-only frames, then a tiny per-source aggregate; no pixel
    decode, no Python beyond the existing dims kernel."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    from mbta_etl_spark.functions import token_count_bpe

    docs = _docs(spark, sf_dir)
    text_tok = docs.select(
        "doc_id", "source", token_count_bpe(F.col("text")).alias("t_tok")
    )
    binary = multimodal.to_binary_table(docs, "text", "doc_id")
    img = multimodal.patch_grid(multimodal.fake_image_features(binary)).select(
        F.col("media_id").alias("doc_id"), "vit_tokens"
    )
    g = (
        text_tok.join(img, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("t_tok").alias("text_tokens"),
            F.sum("vit_tokens").alias("image_tokens"),
        )
    )
    total = F.col("text_tokens") + F.col("image_tokens")
    return g.select(
        "source",
        "n_docs",
        "text_tokens",
        "image_tokens",
        total.alias("total_tokens"),
        r6(F.col("image_tokens").cast("double") / total.cast("double")).alias(
            "image_frac"
        ),
    )


_ORACLES["c30_multimodal_budget"] = """
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(
               text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS t_tok
      FROM documents),
    d AS (
      SELECT doc_id,
             64 + CAST(('0x' || substr(md5(text), 1, 2)) AS BIGINT) % 192
               AS width,
             64 + CAST(('0x' || substr(md5(text), 3, 2)) AS BIGINT) % 192
               AS height
      FROM documents),
    i AS (SELECT doc_id,
                 ((width + 15) // 16) * ((height + 15) // 16) + 1
                   AS vit_tokens
          FROM d),
    g AS (
      SELECT t.source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(t.t_tok) AS BIGINT) AS text_tokens,
             CAST(SUM(i.vit_tokens) AS BIGINT) AS image_tokens
      FROM t JOIN i ON t.doc_id = i.doc_id
      GROUP BY t.source)
    SELECT source, n_docs, text_tokens, image_tokens,
           CAST(text_tokens + image_tokens AS BIGINT) AS total_tokens,
           FLOOR(CAST(image_tokens AS DOUBLE)
                 / CAST(text_tokens + image_tokens AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS image_frac
    FROM g
"""


def c31_pack_attention_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document attention waste of c05's packed bins: within a
    bin of docs with lengths l_i, unmasked attention pays (Σl)² pair
    FLOPs but only Σl_i² are intra-document — the rest is cross-doc
    contamination unless the trainer applies document masking. Per
    source: bins, docs, both quadratic masses (exact int64), and the
    waste fraction — the number that decides whether block-diagonal
    masking is worth wiring into the dataloader. One tiny two-level
    aggregate over the packed table; the packing itself is the cost."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    packed = c05_greedy_pack(spark, sf_dir)
    bins = packed.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("s1"),
        F.sum(F.col("n_tokens") * F.col("n_tokens")).alias("s2"),
    )
    g = bins.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").alias("n_docs"),
        F.sum(F.col("s1") * F.col("s1")).alias("pair_flops"),
        F.sum("s2").alias("intra_flops"),
    )
    waste = (F.col("pair_flops") - F.col("intra_flops")).cast("double") / F.col(
        "pair_flops"
    ).cast("double")
    return g.select(
        "source",
        "n_bins",
        "n_docs",
        "pair_flops",
        "intra_flops",
        r6(waste).alias("cross_waste_frac"),
    )


_ORACLES["c31_pack_attention_waste"] = """
    WITH packed AS ({c05}),
    bins AS (
      SELECT source, bin,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS s1,
             CAST(SUM(n_tokens * n_tokens) AS BIGINT) AS s2
      FROM packed GROUP BY source, bin),
    g AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_bins,
             CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(s1 * s1) AS BIGINT) AS pair_flops,
             CAST(SUM(s2) AS BIGINT) AS intra_flops
      FROM bins GROUP BY source)
    SELECT source, n_bins, n_docs, pair_flops, intra_flops,
           FLOOR(CAST(pair_flops - intra_flops AS DOUBLE)
                 / CAST(pair_flops AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS cross_waste_frac
    FROM g
""".format(c05=_ORACLES["c05_greedy_pack"])


def s25_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-binarized packed-word Hamming top-k
    (operators/similarity.hamming_topk): each 64-dim vector collapses to
    two 32-bit sign words; distance to the query is two
    bit_count(xor) popcounts. The binary-signature prefilter tier of an
    ANN stack — 32x smaller than the float vectors it summarizes.
    Query = vec_id 0's embedding, excluded from results."""
    q = _query_vector(spark, sf_dir)
    return similarity.hamming_topk(
        _emb(spark, sf_dir),
        "embedding",
        "vec_id",
        q,
        k=TOPK,
        exclude_id=QUERY_VEC_ID,
    )


def _hamming_topk_oracle() -> str:
    """Replays the packing bit-for-bit: 32-bit little-endian sign words
    via list comprehension over the double-cast embedding, then
    bit_count(xor) per word. Strict > 0.0 on exact float->double values
    in both engines, so the signatures agree exactly."""
    wexprs = []
    for wi, base in enumerate((0, 32)):
        wexprs.append(
            f"CAST(list_sum([CASE WHEN v[i + {base + 1}] > 0.0"
            f" THEN (1::BIGINT << i) ELSE 0 END"
            f" FOR i IN range(0, 32)]) AS BIGINT) AS w{wi}"
        )
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    w AS (SELECT vec_id, label, {', '.join(wexprs)} FROM e),
    q AS (SELECT w0 AS q0, w1 AS q1 FROM w
          WHERE vec_id = {QUERY_VEC_ID})
    SELECT vec_id, label,
           CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1))
                AS BIGINT) AS hamming
    FROM w, q
    WHERE vec_id <> {QUERY_VEC_ID}
    ORDER BY hamming ASC, vec_id ASC
    LIMIT {TOPK}
    """


_ORACLES["s25_hamming_topk"] = _hamming_topk_oracle()

