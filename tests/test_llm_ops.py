"""Semantic tests for the LLM-data-pipeline operators on synthetic
fixtures: dedup finds planted duplicates, near-dup ops find planted
near-copies, LSH candidates are a subset of brute force with measured
recall, multimodal plumbing round-trips bytes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mbta_etl_spark.operators import dedup, multimodal, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup of 1
    (3, "today the quick brown fox jumps over the lazy dog"),  # reordered 1
    (4, "the quick brown fox jumps over the lazy cat today"),  # near dup of 1
    (5, "completely different words about spark and big data systems"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_groups(spark, docs):
    out = dedup.exact_dedup_groups(docs, F.col("text"), F.col("doc_id")).collect()
    groups = {r["keep_doc_id"]: r["n_copies"] for r in out}
    assert groups[1] == 2  # docs 1 and 2 collapse
    assert len(out) == 4


def test_fingerprint_dedup_catches_reordering(spark, docs):
    out = dedup.fingerprint_dedup_groups(
        docs, F.col("text"), F.col("doc_id")
    ).collect()
    groups = {r["keep_doc_id"]: r["n_copies"] for r in out}
    assert groups[1] == 3  # 1, 2 (exact) and 3 (reordered) share the multiset
    assert len(out) == 3


def test_ngram_jaccard_finds_near_dup(spark, docs):
    out = dedup.ngram_jaccard_pairs(
        docs, F.col("text"), F.col("doc_id"), k=3, threshold=0.3
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0  # identical shingle sets
    assert (1, 4) in pairs and 0.3 <= pairs[(1, 4)] < 1.0  # near dup
    assert all(5 not in p for p in pairs)  # unrelated doc pairs with nobody


def test_ngram_jaccard_shingle_df_cap_drops_hot_shingle(spark):
    """max_shingle_df guards the quadratic candidate term: a shingle
    present in more docs than the cap must not generate pairs. Docs a..e
    share ONLY the hot shingle 'x y z' (df=5); with cap=4 the hot shingle
    is dropped, so no pair survives — while the genuinely-similar pair
    (10, 11) sharing rare shingles is unaffected."""
    rows = [(i, f"x y z u{i} v{i} w{i}") for i in range(5)]
    rows += [(10, "p q r s t"), (11, "p q r s t")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    capped = dedup.ngram_jaccard_pairs(
        df, F.col("text"), F.col("doc_id"), k=3, threshold=0.1, max_shingle_df=4
    ).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert pairs == {(10, 11)}  # hot-shingle-only pairs eliminated
    uncapped = dedup.ngram_jaccard_pairs(
        df, F.col("text"), F.col("doc_id"), k=3, threshold=0.1
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in uncapped} > pairs


def test_ivf_centroids_driver_memory_bounded(spark):
    """The coarse quantizer collects at most max_centroids rows to the
    driver — O(C·d), independent of corpus size — and deterministically
    keeps the lowest sampled cids (so the oracle can replay it)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(
        emb, "embedding", "vec_id", stride=1, max_centroids=7
    )
    assert len(cents) == 7
    assert [c for c, _ in cents] == sorted(c for c, _ in cents)
    assert [c for c, _ in cents] == list(range(7))  # lowest cids win
    # default cap is present and sane
    assert similarity.IVF_MAX_CENTROIDS == 4096


def test_minhash_pairs_subset_of_exact_with_recall(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, F.col("text"), F.col("doc_id"), k=3, threshold=0.5
        ).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, F.col("text"), F.col("doc_id"), k=3, threshold=0.5
        ).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    assert (1, 2) in lsh  # identical docs always collide in every band


def test_simhash_band_pairs_recall_exact(spark, docs):
    """With max_hamming = n_bands − 1 the banding misses NOTHING: every
    signature pair within the hamming radius must be emitted (pigeonhole
    guarantee), and identical docs pair at hamming 0."""
    sigs = {r["doc_id"]: r["simhash"] for r in
            dedup.simhash(docs, F.col("text"), F.col("doc_id")).collect()}
    expect = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs for b in sigs if a < b
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_band_pairs(
            docs, F.col("text"), F.col("doc_id"), max_hamming=3, n_bands=4
        ).collect()
    }
    assert got == expect
    assert got[(1, 2)] == 0  # identical docs


def test_kmeans_deterministic_and_consistent(spark):
    """Fixed-iteration k-means: every vector lands in a valid cluster,
    the reported distance equals the true distance to that centroid's
    final position, and a re-run is bit-identical (no RNG anywhere)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = similarity.kmeans_fit_predict(emb, "embedding", "vec_id", n_iter=2)
    rows1 = sorted((r["vec_id"], r["cluster"], r["dist"]) for r in a.collect())
    rows2 = sorted(
        (r["vec_id"], r["cluster"], r["dist"])
        for r in similarity.kmeans_fit_predict(
            emb, "embedding", "vec_id", n_iter=2
        ).collect()
    )
    assert rows1 == rows2
    n_cents = len(similarity.ivf_centroids(emb, "embedding", "vec_id"))
    assert all(0 <= c < n_cents for _, c, _ in rows1)
    assert len(rows1) == emb.count()
    assert all(d >= 0 for _, _, d in rows1)
    # more than one cluster actually used on 500 spread-out vectors
    assert len({c for _, c, _ in rows1}) > 1


def test_unigram_lm_rare_tokens_score_lower(spark):
    """Docs made of corpus-frequent tokens must outscore docs of rare
    tokens; values match the hand-computed unigram log-likelihood."""
    import math

    df = spark.createDataFrame(
        [(1, "a a a"), (2, "a a b"), (3, "z a a")],
        ["doc_id", "text"],
    )
    from mbta_etl_spark.operators import text as text_ops

    out = {r["doc_id"]: r for r in
           text_ops.unigram_lm_score(df, F.col("text"), F.col("doc_id")).collect()}
    # corpus: a×7, b×1, z×1, N=9
    lp = {"a": math.log(7 / 9), "b": math.log(1 / 9), "z": math.log(1 / 9)}
    assert out[1]["lm_score"] == round(lp["a"], 6)
    assert out[2]["lm_score"] == round((2 * lp["a"] + lp["b"]) / 3, 6)
    assert out[1]["lm_score"] > out[2]["lm_score"] == out[3]["lm_score"]
    assert out[1]["n_tokens"] == 3


def test_simhash_identical_docs_equal_near_docs_close(spark, docs):
    out = {r["doc_id"]: r["simhash"] for r in dedup.simhash(
        docs, F.col("text"), F.col("doc_id")
    ).collect()}
    assert out[1] == out[2] == out[3]  # same token set → same signature
    ham_near = bin(out[1] ^ out[4]).count("1")
    ham_far = bin(out[1] ^ out[5]).count("1")
    assert ham_near < ham_far  # near dup closer than unrelated doc


def test_lang_id_tie_break_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "xyz abc qqq", "zz"), (2, "the le der el", "en"),
         (3, "le la et de est", "fr")],
        ["doc_id", "text", "lang"],
    )
    out = {r["doc_id"]: r["predicted_lang"] for r in text.lang_id(
        df, F.col("text"), F.col("doc_id"), F.col("lang")
    ).collect()}
    assert out[1] == "unknown"  # no profile hits
    assert out[2] == "en"  # 1-1-1-1 four-way tie → first profile wins
    assert out[3] == "fr"  # clear majority


def test_lsh_topk_structural_correctness(spark):
    """LSH results must be exactly the brute-force ranking restricted to
    the probed buckets: scores consistent, order desc, no hallucinated
    ids. (Recall on synthetic *random* embeddings is inherently low —
    near-orthogonal vectors — so we assert structure, not recall.)"""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    brute = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(
            emb, "embedding", "vec_id", q, 500, 0
        ).collect()
    }
    bucketed = similarity.lsh_topk(
        emb, "embedding", "vec_id", q, 10, exclude_id=0
    ).collect()
    assert 0 < len(bucketed) <= 10  # multi-probe buckets are non-empty here
    scores = [r["cosine"] for r in bucketed]
    assert scores == sorted(scores, reverse=True)
    for r in bucketed:  # same score the exact scorer assigns
        assert brute[r["vec_id"]] == r["cosine"]


def test_binary_meta_roundtrip(spark, docs):
    binary = multimodal.to_binary_table(docs, "text", "doc_id")
    out = {r["doc_id"]: r for r in multimodal.binary_meta(binary).collect()}
    t = DOCS[0][1]
    assert out[1]["n_bytes"] == len(t.encode())
    assert out[1]["first_byte"] == ord(t[0])
    assert out[1]["last_byte"] == ord(t[-1])
    import hashlib

    assert out[1]["checksum"] == hashlib.md5(t.encode()).hexdigest()


def test_undecodable_payloads_raise(spark, docs):
    """Non-PNG/non-WAV payloads surface NotImplementedError naming the
    missing codec (raised in-kernel, so it arrives wrapped in Spark's
    Python exception)."""
    from pyspark.errors.exceptions.base import PySparkException

    binary = multimodal.to_binary_table(docs, "text", "doc_id")
    with pytest.raises(PySparkException, match="NotImplementedError"):
        multimodal.decode_image(binary).collect()
    with pytest.raises(PySparkException, match="(ValueError|NotImplementedError)"):
        multimodal.decode_audio(binary).collect()


def test_png_decode_real_roundtrip(spark, docs):
    """encode→binary column→REAL PNG decode: header fields and the exact
    integer pixel sum match the analytic formula."""
    pngs = multimodal.synthetic_png_table(docs, "doc_id")
    out = {r["media_id"]: r for r in multimodal.decode_image(pngs).collect()}
    for i, _t in DOCS:
        w, h = 4 + i % 8, 4 + (i // 8) % 8
        expected = sum((i * 31 + j * 7) % 256 for j in range(w * h * 3))
        row = out[i]
        assert (row["width"], row["height"], row["n_channels"]) == (w, h, 3)
        assert row["pixel_sum"] == expected


def test_wav_decode_real_roundtrip(spark, docs):
    wavs = multimodal.synthetic_wav_table(docs, "doc_id")
    out = {r["media_id"]: r for r in multimodal.decode_audio(wavs).collect()}
    for i, _t in DOCS:
        n = 256 + i % 128
        samples = [((i * 13 + j * 5) % 65536) - 32768 for j in range(n)]
        row = out[i]
        assert row["sample_rate"] == 8000 + (i % 4) * 4000
        assert row["n_samples"] == n
        assert row["sample_sum"] == sum(samples)
        assert row["sample_sqsum"] == sum(s * s for s in samples)


def test_fake_image_features_deterministic(spark, docs):
    binary = multimodal.to_binary_table(docs, "text", "doc_id")
    a = sorted(map(tuple, multimodal.fake_image_features(binary).collect()))
    b = sorted(map(tuple, multimodal.fake_image_features(binary).collect()))
    assert a == b
    for row in a:
        assert 64 <= row[1] < 256 and 64 <= row[2] < 256 and 1 <= row[3] <= 4


def test_embedding_cosine_pairs_exact_and_lsh(spark):
    """Planted near-dup vectors must surface on the exact path; the LSH
    path must return a subset of the exact pairs with identical scores
    and must catch the planted (nearly colinear) pair."""
    base = [1.0] + [0.0] * 7
    near = [0.999] + [0.02] * 7  # cosine ~0.999 with base
    ortho = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, ortho)], ["vec_id", "embedding"]
    )
    exact = dedup.embedding_cosine_pairs(df, "embedding", "vec_id", 0.9)
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in exact.collect()}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] > 0.99

    lsh = dedup.embedding_cosine_pairs(df, "embedding", "vec_id", 0.9, n_planes=4)
    lsh_pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in lsh.collect()}
    assert set(lsh_pairs) <= set(pairs)
    assert lsh_pairs.get((1, 2)) == pairs[(1, 2)]  # colinear pair collides


def test_ivf_topk_structure_and_plan(spark):
    """IVF scores must equal the exact scorer's on every returned id, the
    probed-cell candidate set must respect the assignment, and cell
    assignment must add NO shuffle (scan -> project -> filter -> top-k)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    brute = {
        r["vec_id"]: r["cosine"]
        for r in similarity.cosine_topk(emb, "embedding", "vec_id", q, 500, 0).collect()
    }
    out = similarity.ivf_topk(emb, "embedding", "vec_id", q, k=10, exclude_id=0)
    rows = out.collect()
    assert 0 < len(rows) <= 10
    scores = [r["cosine"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert brute[r["vec_id"]] == r["cosine"]
    cells = {r["cell"] for r in rows}
    assert len(cells) <= 2  # nprobe=2
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # assignment + probe never shuffle


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4 collapses to component 1, island 7-8 to component 7;
    propagation crosses the full diameter, not just one hop."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8)], ["doc_a", "doc_b"]
    )
    out = {
        r["doc_id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}


def test_pii_scrub_cascade(spark):
    from mbta_etl_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a@b.com and b@c.org ip 10.1.2.3 tel (617) 555-0199 end"),
            (2, "no pii here at all"),
            (3, "ip-like 999.1.2.3 still redacts; 12-34 too short for phone"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in pii_scrub(df, F.col("text"), F.col("doc_id")).collect()
    }
    assert out[1]["n_emails"] == 2 and out[1]["n_ips"] == 1 and out[1]["n_phones"] == 1
    assert (
        out[1]["clean"]
        == "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE> end"
    )
    assert out[2]["clean"] == "no pii here at all"
    assert (out[2]["n_emails"], out[2]["n_ips"], out[2]["n_phones"]) == (0, 0, 0)
    # the scrub is syntactic: 999.x octets still match the shape
    assert out[3]["n_ips"] == 1 and out[3]["n_phones"] == 0


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment(sub→super)
    = 1.0 while Jaccard stays below any useful threshold — the reason the
    directed operator exists."""
    from mbta_etl_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(
        df, F.col("text"), F.col("doc_id"), threshold=0.9
    ).collect()
    assert len(cont) == 1
    assert (cont[0]["doc_sub"], cont[0]["doc_super"]) == (1, 2)
    assert cont[0]["containment"] == 1.0
    # symmetric Jaccard on the same pair is far below threshold
    jacc = ngram_jaccard_pairs(
        df, F.col("text"), F.col("doc_id"), threshold=0.5
    ).collect()
    assert jacc == []


def test_phash_dupes_find_identical_payloads(spark):
    """The md5 stand-in hash is uniform, so only byte-identical payloads
    fall within the hamming radius — pin that positive case (the sf0.01
    registry data has no exact dups, so the driver row alone is 0=0)."""
    from mbta_etl_spark.operators.multimodal import (
        phash_dup_pairs,
        to_binary_table,
    )

    df = spark.createDataFrame(
        [(1, "same payload"), (2, "same payload"), (3, "different")],
        "doc_id long, text string",
    )
    out = phash_dup_pairs(to_binary_table(df, "text", "doc_id")).collect()
    assert len(out) == 1
    assert (out[0]["doc_a"], out[0]["doc_b"], out[0]["hamming"]) == (1, 2, 0)


def test_incremental_dedup_drops_known_and_intra_batch(spark):
    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.dedup import incremental_dedup

    batch = spark.createDataFrame(
        [(10, "known text"), (11, "fresh text"), (12, "fresh text")],
        "doc_id long, text string",
    )
    index = spark.createDataFrame([("known text",)], "text string").select(
        F.sha2(F.col("text"), 256).alias("sha")
    )
    out = incremental_dedup(batch, index, F.col("text"), F.col("doc_id"))
    kept = sorted(r["doc_id"] for r in out.collect())
    # 10 dropped (already in corpus), 12 dropped (intra-batch dup of 11)
    assert kept == [11]


def test_boilerplate_fraction_counts_cross_doc_shingles(spark):
    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.text import boilerplate_fraction

    df = spark.createDataFrame(
        [
            (1, "a b c d"),        # shingles: abc, bcd
            (2, "a b c x"),        # shingles: abc, bcx -> shares abc with 1
            (3, "p q r s"),        # fully novel
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_fraction(
            df, F.col("text"), F.col("doc_id")
        ).collect()
    }
    assert out[1]["n_shingles"] == 2 and out[1]["n_common"] == 1
    assert out[1]["boilerplate_frac"] == 0.5
    assert out[2]["boilerplate_frac"] == 0.5
    assert out[3]["n_common"] == 0 and out[3]["boilerplate_frac"] == 0.0


def test_normalized_dedup_merges_case_and_punct_variants(spark):
    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.dedup import normalized_dedup_groups

    df = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO WORLD."),
            (4, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    out = normalized_dedup_groups(df, F.col("text"), F.col("doc_id")).collect()
    groups = {r["keep_doc_id"]: r["n_copies"] for r in out}
    assert groups == {1: 3, 4: 1}


def test_sniff_router_magic_bytes(spark):
    """Crafted binary payloads route to their magic-byte mime; the ASCII
    corpus never exercises these arms (the oracle covers that side)."""
    rows = [
        (1, b"\x89PNG\r\n\x1a\nrest-of-png"),
        (2, b"\xff\xd8\xff\xe0jpeg-body"),
        (3, b"GIF89a-frames"),
        (4, b"RIFF....WAVE"),
        (5, b"%PDF-1.7 ..."),
        (6, b"plain ascii text\n"),
        (7, b"\x00\x01binary junk"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r.media_id: (r.sniffed_mime, r.printable)
        for r in multimodal.sniff_types(df).collect()
    }
    assert got[1] == ("image/png", False)
    assert got[2] == ("image/jpeg", False)
    assert got[3] == ("image/gif", False)
    assert got[4] == ("audio/x-riff", False)
    assert got[5] == ("application/pdf", False)
    assert got[6] == ("text/plain", True)
    assert got[7] == ("application/octet-stream", False)


def test_bm25_ranks_term_dense_docs_higher(spark):
    rows = [
        (1, "spark spark spark runs fast"),
        (2, "spark is a data engine"),
        (3, "nothing about the topic here"),
        (4, "join join spark"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.bm25_scores(
        df, F.col("text"), F.col("doc_id"), ("spark", "join"), k=4
    ).collect()
    scores = {r["doc_id"]: r["bm25"] for r in out}
    # doc 4 matches both terms, docs 1-2 only one; doc 3 scores 0
    assert scores[3] == 0.0
    assert scores[4] > scores[1] > 0
    assert scores[4] > scores[2] > 0
    # saturation: 3x tf in a longer doc must not beat matching 2 terms
    order = [r["doc_id"] for r in out]
    assert order[0] == 4


def test_bm25_idf_downweights_common_terms(spark):
    # 'the' appears in every doc (low idf), 'rare' in one (high idf);
    # equal tf and identical doc length -> the rare-term doc wins
    rows = [
        (1, "the alpha beta"),
        (2, "the gamma delta"),
        (3, "rare epsilon the"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text.bm25_scores(
        df, F.col("text"), F.col("doc_id"), ("the", "rare"), k=3
    ).collect()
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert scores[3] > scores[1] == scores[2]


def test_rrf_fuse_sentinels_and_ordering(spark):
    a = spark.createDataFrame([(10, 1), (20, 2)], ["doc_id", "rank"])
    b = spark.createDataFrame([(20, 1), (30, 2)], ["doc_id", "rank"])
    out = similarity.rrf_fuse(a, b, "doc_id", rrf_k=60, k=10).collect()
    by_id = {r["doc_id"]: r for r in out}
    # 20 is in both pools -> highest fused score
    assert [r["doc_id"] for r in out][0] == 20
    assert round(by_id[20]["rrf"], 6) == round(1 / 62 + 1 / 61, 6)
    # ids missing from one pool carry the 0 sentinel rank and only the
    # other pool's contribution
    assert by_id[10]["rank_b"] == 0
    assert round(by_id[10]["rrf"], 6) == round(1 / 61, 6)
    assert by_id[30]["rank_a"] == 0
    assert round(by_id[30]["rrf"], 6) == round(1 / 62, 6)
    # fused ordering: both-pools doc first, then by reciprocal rank
    ids = [r["doc_id"] for r in out]
    assert ids == [20, 10, 30]


def test_adaptive_quality_threshold_is_exact_group_p25(spark):
    """c21's histogram-cumsum percentile must equal the naive sorted-list
    p25 (index (n-1)//4, 0-based) recomputed in Python per language."""
    from mbta_etl_spark.plans import llm_registry as L

    sf = "/root/testdata/sf0.001"
    docs = L._docs(spark, sf)
    ql = (
        text.quality_score(docs, F.col("text"), F.col("doc_id"))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("lang", "quality")
        .collect()
    )
    by_lang: dict[str, list[float]] = {}
    for r in ql:
        by_lang.setdefault(r["lang"], []).append(r["quality"])
    expected = {
        lang: sorted(vals)[(len(vals) - 1) // 4] for lang, vals in by_lang.items()
    }
    out = {
        r["lang"]: r
        for r in L.c21_adaptive_quality_filter(spark, sf).collect()
    }
    assert set(out) == set(expected)
    for lang, th in expected.items():
        assert out[lang]["threshold"] == th, lang
        n_kept = sum(1 for v in by_lang[lang] if v >= th)
        assert out[lang]["n_kept"] == n_kept
        assert out[lang]["n_docs"] == len(by_lang[lang])


def test_ngram_novelty_ordered_first_occurrence(spark):
    from mbta_etl_spark.plans.llm_registry import JACCARD_K

    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),          # exact repeat of doc 1 -> novelty 0
        (3, "x y z w v"),          # all-new content -> novelty 1
        (4, "a b c x y z q r s"),  # mixes shingles first seen in 1 and 3
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup._shingle_table(df, F.col("text"), F.col("doc_id"), JACCARD_K)
    firsts = {}
    per_doc: dict[int, set[int]] = {}
    for r in sh.collect():
        per_doc.setdefault(r["doc_id"], set()).add(r["sh64"])
        firsts[r["sh64"]] = min(firsts.get(r["sh64"], r["doc_id"]), r["doc_id"])
    out = {}
    for r in (
        sh.join(
            sh.groupBy("sh64").agg(F.min("doc_id").alias("_first")), "sh64"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("_first") < F.col("doc_id")).cast("long")).alias("s"),
        )
        .collect()
    ):
        out[r["doc_id"]] = (r["n"], r["s"])
    # python replay
    for d, shs in per_doc.items():
        seen = sum(1 for s in shs if firsts[s] < d)
        assert out[d] == (len(shs), seen)
    # semantic pins
    assert out[1][1] == 0          # first doc: nothing seen before
    assert out[2][0] == out[2][1]  # exact repeat: everything seen
    assert out[3][1] == 0          # fresh content: nothing seen


def test_vector_validity_flags_planted_bad_vectors(spark):
    from mbta_etl_spark.operators.validate import vector_validity

    rows = [
        (1, [1.0, 2.0, 2.0]),            # good: norm 3
        (2, None),                        # null vector
        (3, [1.0, 2.0]),                  # wrong dim
        (4, [float("nan"), 0.0, 0.0]),    # nonfinite
        (5, [float("inf"), 0.0, 0.0]),    # nonfinite
        (6, [0.0, 0.0, 0.0]),             # zero norm
        (7, [0.0, 0.0, 4.0]),             # good: norm 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = vector_validity(df, "embedding", 3).collect()[0]
    assert out["n_vecs"] == 7
    assert out["n_null"] == 1
    assert out["n_wrong_dim"] == 1
    assert out["n_nonfinite"] == 2
    assert out["n_zero_norm"] == 1
    assert out["min_norm"] == 0.0   # the zero vector is finite
    assert out["max_norm"] == 4.0   # NaN/inf norms excluded from the range


def test_semantic_dedup_pairs_subset_of_exact_allpairs(spark):
    """SemDeDup bucketing only RESTRICTS candidates: every within-cluster
    pair at or above d06's threshold must also be found by the exact
    all-pairs operator, and the composition must find real pairs."""
    from mbta_etl_spark.plans.llm_registry import (
        COSINE_DUP_THRESHOLD,
        d26_semantic_dedup,
    )

    sf = "/root/testdata/sf0.001"
    sem = d26_semantic_dedup(spark, sf).collect()
    assert sem  # non-trivial output on the synthetic corpus
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb, "embedding", "vec_id", threshold=COSINE_DUP_THRESHOLD
        ).collect()
    }
    strong = {
        (r["vec_a"], r["vec_b"])
        for r in sem
        if r["cosine"] >= COSINE_DUP_THRESHOLD
    }
    assert strong <= exact
    # ordering + co-clustering invariants
    assert all(r["vec_a"] < r["vec_b"] for r in sem)


def test_dup_span_extents_merges_islands(spark):
    """Span semantics pinned on a crafted micro-corpus: a shared 8-token
    run is detected in both docs, extents cover the run exactly, and two
    duplicated regions separated by more than w unique tokens stay
    SEPARATE spans while touching/overlapping windows merge into one."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    filler = " ".join(f"u{i}" for i in range(12))  # 12 unique tokens
    rows = [
        # doc 1: shared run at positions 0-7 and again at 20-27
        (1, f"{shared} {filler} {shared}"),
        # doc 2: one copy of the run, embedded mid-doc at positions 3-10
        (2, f"x0 x1 x2 {shared} x3 x4"),
        (3, "entirely disjoint content with no repeated window at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.dup_span_extents(
            df, F.col("text"), F.col("doc_id"), 8
        ).collect()
    }
    assert 3 not in out  # no duplicated window -> no row
    # doc 1: two islands 12 tokens apart (> w) -> two spans of exactly 8
    assert out[1]["n_dup_spans"] == 2
    assert out[1]["longest_span"] == 8
    assert out[1]["covered_tokens"] == 16
    assert out[1]["n_tokens"] == 28
    # doc 2: single 8-token span; windows at a single position only
    assert out[2]["n_dup_spans"] == 1
    assert out[2]["covered_tokens"] == 8
    assert out[2]["n_tokens"] == 13


def test_canonical_selection_argmax_and_savings(spark):
    """Canonical = max quality (tie: min doc_id); tokens_saved = sum of
    non-canonical members' tokens."""
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], ["doc_id", "component"]
    )
    scored = spark.createDataFrame(
        [
            (1, 10, 0.5),
            (2, 20, 0.9),   # cluster 1 canonical (max quality)
            (3, 30, 0.9),   # same quality, higher doc_id -> loses tie
            (7, 40, 0.4),   # cluster 7 canonical (tie on 0.4, min doc_id)
            (8, 50, 0.4),
        ],
        ["doc_id", "n_tokens", "quality"],
    )
    out = {
        r["component"]: r
        for r in dedup.canonical_selection(comp, scored).collect()
    }
    assert out[1]["canonical_doc"] == 2
    assert out[1]["canonical_quality"] == 0.9
    assert out[1]["n_members"] == 3
    assert out[1]["tokens_total"] == 60
    assert out[1]["tokens_saved"] == 40  # docs 1 and 3
    assert out[7]["canonical_doc"] == 7
    assert out[7]["tokens_saved"] == 50


def test_chunk_dedup_census_finds_shared_chunks(spark, docs):
    """Exact-dup docs share every chunk; the near-dup (doc 4, same
    prefix) shares its OPENING chunk too — the sub-document redundancy
    whole-doc dedup misses. keep = min doc_id; savings = copies-1."""
    out = dedup.chunk_dedup_census(
        docs, F.col("text"), F.col("doc_id"), window=8, stride=4
    ).collect()
    assert len(out) > 0
    copies = sorted(r["n_copies"] for r in out)
    assert copies[0] >= 2
    assert max(copies) == 3  # docs 1, 2 AND near-dup 4 share the prefix chunk
    for r in out:
        assert r["keep_doc"] == 1
        assert r["n_docs"] == r["n_copies"]  # one chunk per doc here
        assert r["tokens_redundant"] == (r["n_copies"] - 1) * r["chunk_len"]


def test_media_shards_no_straddle_and_capacity(spark):
    """No shard exceeds capacity unless a single oversized payload owns
    it alone; every payload lands in exactly one shard."""
    from mbta_etl_spark.plans.llm_registry import (
        MEDIA_SHARD_BYTES,
        m12_media_shards,
    )
    from tests.conftest import SF_DIR_SMALL

    out = m12_media_shards(spark, SF_DIR_SMALL).collect()
    assert len(out) > 0
    for r in out:
        assert r["n_items"] >= 1
        if r["shard_bytes"] > MEDIA_SHARD_BYTES:
            assert r["n_items"] == 1  # oversized single payload
        assert abs(r["fill_ratio"] - r["shard_bytes"] / MEDIA_SHARD_BYTES) < 1e-6


def test_bpe_merge_candidates_hand_computed(spark):
    """Pair counts weighted by word frequency match the hand count; the
    top merge candidate is the most frequent adjacent pair."""
    from mbta_etl_spark.plans.llm_registry import t26_bpe_merge_candidates  # noqa: F401
    from mbta_etl_spark.operators import dedup  # noqa: F401

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "low lowest")], ["doc_id", "text"]
    )
    vocab = (
        df.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("word_freq"))
    )
    pairs = vocab.withColumn(
        "i", F.explode(F.sequence(F.lit(1), F.length("word") - 1))
    ).select(F.col("word").substr(F.col("i"), F.lit(2)).alias("pair"), "word_freq")
    counts = {
        r["pair"]: r["n"]
        for r in pairs.groupBy("pair").agg(F.sum("word_freq").alias("n")).collect()
    }
    # words: low x3, lower x1, lowest x1 -> 'lo' and 'ow' appear in all 5
    assert counts["lo"] == 5 and counts["ow"] == 5
    assert counts["we"] == 2  # lower + lowest
    assert counts["er"] == 1 and counts["st"] == 1


def test_random_projection_preserves_identical_and_orthogonal(spark):
    """JL sign projection: a copy of the query projects to projected
    cosine 1.0 and ranks first; the matrix is deterministic ±1."""
    mat = similarity.projection_matrix(8, out_dim=4)
    assert len(mat) == 4 and all(len(r) == 8 for r in mat)
    assert all(x in (1.0, -1.0) for r in mat for x in r)
    assert mat == similarity.projection_matrix(8, out_dim=4)
    q = [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5, 0.25]
    rows = [
        (0, 0, q),                      # the query itself (excluded)
        (1, 0, [2 * x for x in q]),     # scaled copy -> pcos 1.0, first
        (2, 0, [-x for x in q]),        # negated -> pcos -1.0, last
        (3, 0, [0.9 * x + 0.1 for x in q]),  # near-copy
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    out = similarity.random_projection_topk(
        df, "embedding", "vec_id", q, k=3, out_dim=4, exclude_id=0
    ).collect()
    ids = [r["vec_id"] for r in out]
    assert ids[0] == 1 and ids[-1] == 2
    assert out[0]["cosine"] == 1.0
    assert out[-1]["cosine"] == -1.0


def test_bloom_decontam_superset_and_exact_detection(spark):
    """Bloom hits must be a superset of exact hits (an exact key sets
    its own bits), a verbatim-contaminated doc's grams all hit both
    probes, and FPR is a finite fraction in [0, 1]."""
    from mbta_etl_spark.operators.dedup import bloom_decontam_audit
    from pyspark.sql import functions as F

    words = [f"w{i}" for i in range(40)]
    leak = " ".join(words[:12])                 # appears in train AND test
    clean = " ".join(words[20:40])              # train only
    train = spark.createDataFrame(
        [(1, leak, "a"), (2, clean, "b")], "doc_id long, text string, src string"
    )
    test = spark.createDataFrame(
        [(100, leak, "t")], "doc_id long, text string, src string"
    )
    out = bloom_decontam_audit(
        train, test, F.col("text"), F.col("doc_id"), "src", k=8, m=256, n_hash=3
    ).collect()
    by_src = {r["src"]: r for r in out}
    a, b = by_src["a"], by_src["b"]
    assert a["n_exact"] == a["n_grams"] and a["n_bloom"] == a["n_grams"]
    assert a["n_fp"] == 0
    for r in out:
        assert r["n_bloom"] >= r["n_exact"]
        assert r["n_fp"] == r["n_bloom"] - r["n_exact"]
        if r["fpr"] is not None:
            assert 0.0 <= r["fpr"] <= 1.0
    assert b["n_exact"] == 0


def test_kmeans_silhouette_separated_blobs(spark):
    """Two tight, well-separated blobs: every point's silhouette is
    near 1, none negative, and clusters match the blob structure."""
    from mbta_etl_spark.operators.similarity import kmeans_silhouette

    rows = []
    for i in range(30):
        blob = i % 2
        center = 0.0 if blob == 0 else 100.0
        rows.append((i, [center + (i % 5) * 0.01, center - (i % 7) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_silhouette(
        df, "embedding", "vec_id", n_iter=2, stride=15, max_centroids=4
    ).collect()
    assert sum(r["n_members"] for r in out) == 30
    for r in out:
        assert r["n_negative"] == 0
        if r["n_members"] > 1:
            assert r["mean_silhouette"] > 0.9


def test_dsir_target_source_scores_highest(spark):
    """The target domain's own docs must get the highest mean importance
    score; a disjoint-vocabulary source scores negative."""
    from mbta_etl_spark.operators.text import dsir_importance
    from pyspark.sql import functions as F

    target_text = "alpha beta gamma delta alpha beta"
    other_text = "zeta eta theta iota kappa lambada"
    rows = [
        (1, target_text, "tgt"),
        (2, target_text + " alpha", "tgt"),
        (3, "alpha beta gamma zeta", "mixed"),
        (4, other_text, "other"),
        (5, other_text + " kappa", "other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in dsir_importance(
        df, F.col("text"), F.col("doc_id"), "source", "tgt"
    ).collect()}
    assert out["tgt"]["mean_score"] > out["mixed"]["mean_score"] > out["other"]["mean_score"]
    assert out["other"]["mean_score"] < 0 < out["tgt"]["mean_score"]
    for r in out.values():
        assert r["min_score"] <= r["mean_score"] <= r["max_score"]


def test_gopher_rules_each_rule_fires(spark):
    """Each rule flags exactly the crafted violator and the clean doc
    passes all five."""
    from mbta_etl_spark.operators.text import gopher_rules_census
    from pyspark.sql import functions as F

    # Each doc violates EXACTLY its one rule under the calibrated bounds
    # (word count 15..90, mean word length 4.25..4.75 via centi-units,
    # top-token share 20%, unique ratio 50%, >=2 stopword hits).
    rows = [
        (1, "think quick brown words flow there keep going then fine shape "
            "hello world again stuff more the and extra item", "ok"),
        (2, "the and brave whirl crisp stone forge maple zone", "short"),
        (3, "think quick brown words flow there keep going then fine shape "
            "am is again stuff more the and extra item", "wl"),
        (4, "echo echo echo echo echo the and domes fable girth haste inlet "
            "joker knack limbo mirth notch oaken pearl", "rep"),
        (5, "the and words quick simple " * 4, "uniq"),
        (6, "bird wolf lamb hawk frog deermo newt toad eagle fancy grove "
            "haste inlet joker koala lemon", "stop"),
    ]
    rows = [(i, t.strip(), s) for i, t, s in rows]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in gopher_rules_census(
        df, F.col("text"), "source"
    ).collect()}
    assert out["ok"]["n_pass"] == 1 and out["ok"]["pass_frac"] == 1.0
    assert out["short"]["fail_word_count"] == 1
    assert out["wl"]["fail_word_len"] == 1
    assert out["rep"]["fail_top_share"] == 1
    assert out["uniq"]["fail_unique"] == 1
    assert out["stop"]["fail_stopword"] == 1


def test_doremi_upweights_high_loss_domain(spark):
    """The domain full of rare tokens (high surprisal) must end with
    w_final above its initial weight; the common-token domain below."""
    from mbta_etl_spark.operators.sampling import doremi_domain_weights
    from pyspark.sql import functions as F

    common = "the the the and and of of to in a"
    rare_words = " ".join(f"rare{i}" for i in range(10))
    rows = (
        [(i, common, "common") for i in range(5)]
        + [(10 + i, rare_words, "rare") for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in doremi_domain_weights(
        df, F.col("text"), F.col("doc_id"), "source"
    ).collect()}
    assert out["rare"]["loss"] > out["common"]["loss"]
    assert out["rare"]["w_final"] > out["rare"]["w_init"]
    assert out["common"]["w_final"] < out["common"]["w_init"]
    assert abs(out["rare"]["w_final"] + out["common"]["w_final"] - 1.0) < 1e-4


def test_embedding_decontaminate_flags_planted_near_dup(spark):
    """A train vector colinear with an eval vector is flagged; an
    orthogonal one is not."""
    from mbta_etl_spark.operators.dedup import embedding_decontaminate

    ev = [1.0, 0.0, 0.0, 0.0]
    near = [0.9, 0.1, 0.0, 0.0]
    ortho = [0.0, 0.0, 1.0, 0.0]
    rows = [(0, ev, 0), (1, near, 1), (2, ortho, 1), (3, ortho, 2)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r["label"]: r for r in embedding_decontaminate(
        df, "embedding", "vec_id", "label", eval_label=0, threshold=0.9
    ).collect()}
    assert out[1]["n_train"] == 2 and out[1]["n_flagged"] == 1
    assert out[1]["flag_frac"] == 0.5
    assert out[2]["n_flagged"] == 0
    assert out[1]["peak_cosine"] >= 0.99


def test_soft_dedup_weights_conserve_mass(spark):
    """Global effective doc count equals the number of DISTINCT texts
    (each dup group contributes exactly 1.0 in total), a source with no
    duplicates has zero dup tax, and a planted 4-copy group splits its
    unit weight 0.25-per-copy across sources."""
    from mbta_etl_spark.operators.dedup import soft_dedup_weights

    rows = (
        [("dup dup dup", f"s{i % 2}", i) for i in range(4)]  # 4 copies, 2 sources
        + [(f"unique text {i}", "s2", 100 + i) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "text string, source string, doc_id long")
    df = df.withColumn("n_chars", F.length("text"))
    out = {
        r["source"]: r
        for r in soft_dedup_weights(
            df, F.col("text"), F.col("doc_id"), "source", "n_chars"
        ).collect()
    }
    # each s0/s1 holds 2 copies of the 4-copy group: eff_docs = 2 * 0.25
    assert out["s0"].n_docs == 2 and abs(out["s0"].eff_docs - 0.5) < 1e-6
    assert abs(out["s1"].eff_docs - 0.5) < 1e-6
    # no dups in s2: effective == raw, zero tax
    assert out["s2"].n_docs == 5 and abs(out["s2"].eff_docs - 5.0) < 1e-6
    assert abs(out["s2"].dup_tax) < 1e-6
    assert out["s2"].eff_chars == out["s2"].n_chars
    # mass conservation: total effective docs == distinct texts
    total_eff = sum(r.eff_docs for r in out.values())
    assert abs(total_eff - 6.0) < 1e-5  # 1 dup group + 5 uniques
    # the dup-heavy sources pay a 75% tax (1 - 0.25)
    assert abs(out["s0"].dup_tax - 0.75) < 1e-6


def test_pq_codebook_partitions_and_shrinks_distortion(spark):
    """Each subspace's codes partition all vectors; subspace distances
    (16 dims) are strictly smaller than full-space k01 distances
    (64 dims); codebook is replayed with k01's deterministic labels."""
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.s23_pq_codebook(spark, SF_DIR_SMALL).collect()
    subspaces = {r.subspace for r in rows}
    assert subspaces == {0, 1, 2, 3}
    n_vecs = llm_registry._emb(spark, SF_DIR_SMALL).count()
    for m in subspaces:
        sub = [r for r in rows if r.subspace == m]
        assert sum(r.n_members for r in sub) == n_vecs
        for r in sub:
            assert 0.0 <= r.mean_dist <= r.max_dist
            assert r.inertia >= 0.0
    # quantizing 16-dim slices must beat quantizing the full 64-dim
    # space at equal code count: compare member-weighted mean distortion
    k01 = llm_registry.k01_kmeans_clusters(spark, SF_DIR_SMALL).collect()
    full_mean = sum(r.dist for r in k01) / len(k01)
    for m in subspaces:
        sub = [r for r in rows if r.subspace == m]
        sub_mean = sum(r.mean_dist * r.n_members for r in sub) / n_vecs
        assert sub_mean < full_mean


def test_bigram_lm_rewards_typical_pairs(spark):
    """Docs made of the corpus's dominant bigram score higher than a
    doc of the same words in atypical order; a one-token doc is
    excluded (no bigrams)."""
    from mbta_etl_spark.operators.text import bigram_lm_score

    rows = (
        [(i, "typ", "a b a b a b a b") for i in range(8)]
        + [(100, "atyp", "b a b a b a b a")]  # pairs reversed vs corpus
        + [(200, "tiny", "a")]  # no bigram — must vanish from the census
    )
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["source"]: r
        for r in bigram_lm_score(
            df, F.col("text"), F.col("doc_id"), "source"
        ).collect()
    }
    assert "tiny" not in out
    assert out["typ"].n_docs == 8 and out["atyp"].n_docs == 1
    # (a,b) occurs 8x per typ doc vs (b,a) dominant pairs being rarer
    assert out["typ"].mean_lp > out["atyp"].mean_lp
    for r in out.values():
        assert r.min_lp <= r.mean_lp <= r.max_lp <= 0.0


def test_pq_adc_topk_orders_and_approximates(spark):
    """ADC results are ascending non-negative distances, exclude the
    query, and the ADC top-10 overlaps the exact Euclidean top-10 (the
    codebook carries real signal, not noise)."""
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.s24_pq_adc_topk(spark, SF_DIR_SMALL).collect()
    assert len(rows) == 10
    dists = [r.adc_d2 for r in rows]
    assert all(d >= 0.0 for d in dists)
    assert dists == sorted(dists)
    assert all(r.vec_id != llm_registry.QUERY_VEC_ID for r in rows)
    # exact euclidean top-10 for overlap
    import math

    emb = {
        r.vec_id: r.embedding
        for r in llm_registry._emb(spark, SF_DIR_SMALL).collect()
    }
    q = emb[llm_registry.QUERY_VEC_ID]
    exact = sorted(
        (
            (sum((q[i] - v[i]) ** 2 for i in range(len(q))), vid)
            for vid, v in emb.items()
            if vid != llm_registry.QUERY_VEC_ID
        )
    )[:10]
    exact_ids = {vid for _, vid in exact}
    overlap = sum(1 for r in rows if r.vec_id in exact_ids)
    assert overlap >= 3, f"ADC top-10 shares only {overlap} with exact"
    # ADC distance lower-bounds nothing but should be in the exact
    # distance's ballpark for the best hit
    assert abs(math.sqrt(dists[0]) - math.sqrt(exact[0][0])) < 5.0


def test_method_agreement_consistent_with_components(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    r = llm_registry.d33_method_agreement(spark, SF_DIR_SMALL).collect()[0]
    nm = llm_registry.d04_minhash_lsh_pairs(spark, SF_DIR_SMALL).count()
    ns = llm_registry.d09_simhash_band_pairs(spark, SF_DIR_SMALL).count()
    assert r.n_minhash == nm and r.n_simhash == ns
    assert 0 <= r.n_both <= min(nm, ns)
    assert 0.0 <= r.pair_jaccard <= 1.0


def test_length_buckets_dominate_global_padding(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.c29_length_buckets(spark, SF_DIR_SMALL).collect()
    assert rows
    caps = [r.bin_cap for r in rows]
    assert caps == sorted(caps)
    for r in rows:
        # every cap is a power of two bounding the bucket's observed max
        assert r.bin_cap & (r.bin_cap - 1) == 0
        assert r.bin_cap // 2 < r.bucket_max <= r.bin_cap
        assert 0.0 <= r.bucket_waste < 0.5 or r.bin_cap == 1
        # padding to the bucket max never wastes more than padding to
        # the corpus max (bucket_max <= gmax)
        assert r.bucket_waste <= r.global_waste + 1e-9
    # some bin must strictly beat global padding for bucketing to matter
    assert any(r.bucket_waste < r.global_waste - 0.05 for r in rows)


def test_dup_aware_sample_keeps_about_one_per_group(spark):
    """A planted 10-copy group keeps ~1 copy (deterministically);
    unique docs keep with rate DENOM-bucket < DENOM/n = full rate 1."""
    from mbta_etl_spark.operators.dedup import dup_aware_sample_census

    rows = (
        [(f"copy copy copy", "dup", i) for i in range(10)]
        + [(f"unique {i}", "uniq", 100 + i) for i in range(20)]
    )
    df = spark.createDataFrame(rows, "text string, source string, doc_id long")
    out = {
        r["source"]: r
        for r in dup_aware_sample_census(
            df, F.col("text"), F.col("doc_id"), "source"
        ).collect()
    }
    # unique docs: n_copies=1 → bucket*1 < 10000 always → all kept
    assert out["uniq"].n_kept == 20
    assert abs(out["uniq"].expected - 20.0) < 1e-6
    assert abs(out["uniq"].kept_vs_expected - 1.0) < 1e-6
    # dup group: expected ~1 kept of 10; hash determinism makes the
    # exact count stable across runs — just bound it loosely
    assert out["dup"].n_docs == 10
    assert 0 <= out["dup"].n_kept <= 4
    assert abs(out["dup"].expected - 1.0) < 1e-5


def test_source_keywords_lift_properties(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.t30_source_keywords(spark, SF_DIR_SMALL).collect()
    assert rows
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, rs in by_source.items():
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= llm_registry.SOURCE_KEYWORDS_K
        lifts = [r.lift for r in rs]
        assert lifts == sorted(lifts, reverse=True)
        for r in rs:
            assert r.tf >= llm_registry.SOURCE_KEYWORDS_MIN_TF
            assert r.lift > 0
    # a keyword is over-represented in its source: top lift > 1
    assert all(rs[0].lift >= 1.0 for rs in by_source.values())


def test_pointer_doubling_matches_propagation_and_jumps_faster(spark):
    """On a deliberately DEEP chain graph (diameter 40), pointer
    doubling yields the same components as plain propagation and
    converges in far fewer rounds than the diameter (log2(40) ~ 6)."""
    from mbta_etl_spark.operators.dedup import (
        connected_components,
        pointer_doubling_components,
    )

    chain = [(i, i + 1) for i in range(40)]  # 0-1-2-...-40, one component
    island = [(100, 101), (101, 102)]
    pairs = spark.createDataFrame(chain + island, "doc_a long, doc_b long")
    pd_out = {
        r.doc_id: r.component
        for r in pointer_doubling_components(pairs, max_iter=8).collect()
    }
    cc_out = {
        r.doc_id: r.component
        for r in connected_components(pairs, max_iter=50).collect()
    }
    assert pd_out == cc_out
    assert all(pd_out[i] == 0 for i in range(41))
    assert all(pd_out[i] == 100 for i in (100, 101, 102))


def test_hamming_topk_zero_distance_and_monotone(spark):
    """A vector with the same sign pattern as the query is at distance
    0; distances are nondecreasing and bounded by the dimension."""
    from mbta_etl_spark.operators.similarity import hamming_topk

    q = [1.0, -2.0, 0.5, -0.25] * 16  # 64-dim, alternating signs
    same_sign = [0.1 if x > 0 else -0.1 for x in q]
    flipped = [-x for x in q]
    rows = [
        (1, same_sign, 0),
        (2, flipped, 1),
        (3, [abs(x) for x in q], 2),  # all-positive: differs on negatives
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = hamming_topk(df, "embedding", "vec_id", q, k=3).collect()
    assert [r.vec_id for r in out] == [1, 3, 2]
    assert out[0].hamming == 0
    assert out[2].hamming == 64  # exact complement flips every bit
    hams = [r.hamming for r in out]
    assert hams == sorted(hams) and all(0 <= h <= 64 for h in hams)


def test_hamming_topk_generic_payload(spark):
    """ADVICE r3: the operator contract is generic — a DataFrame without
    a 'label' column works with payload_cols=(), and arbitrary payload
    columns pass through."""
    from mbta_etl_spark.operators.similarity import hamming_topk

    q = [1.0, -1.0] * 32
    rows = [(1, q, "a"), (2, [-x for x in q], "b")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, tag string"
    )
    bare = hamming_topk(
        df.select("vec_id", "embedding"), "embedding", "vec_id", q, k=2,
        payload_cols=(),
    )
    assert bare.columns == ["vec_id", "hamming"]
    assert [r.vec_id for r in bare.collect()] == [1, 2]
    tagged = hamming_topk(
        df, "embedding", "vec_id", q, k=2, payload_cols=("tag",)
    ).collect()
    assert [r.tag for r in tagged] == ["a", "b"]


def test_hamming_topk_registry_entry_shape(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    out = llm_registry.s25_hamming_topk(spark, SF_DIR_SMALL)
    rows = out.collect()
    assert len(rows) == llm_registry.TOPK
    assert all(r.vec_id != llm_registry.QUERY_VEC_ID for r in rows)
    hams = [r.hamming for r in rows]
    assert hams == sorted(hams)


def test_patch_grid_exact_multiples_have_zero_waste(spark):
    from mbta_etl_spark.operators.multimodal import patch_grid

    dims = spark.createDataFrame(
        [(1, 64, 128, 3), (2, 65, 128, 3), (3, 17, 17, 1)],
        "media_id long, width long, height long, n_channels long",
    )
    out = {r.media_id: r for r in patch_grid(dims).collect()}
    assert (out[1].nx, out[1].ny) == (4, 8)
    assert out[1].n_patches == 32 and out[1].vit_tokens == 33
    assert out[1].pad_frac == 0.0  # exact multiple: no padding
    assert (out[2].nx, out[2].ny) == (5, 8)  # 65 -> 5 columns of 16
    assert out[2].pad_frac > 0.0
    assert (out[3].nx, out[3].ny) == (2, 2)
    # 17x17 padded to 32x32: waste = 1 - 289/1024
    assert abs(out[3].pad_frac - (1 - 289 / 1024)) < 1e-6


def test_multimodal_budget_consistency(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.c30_multimodal_budget(spark, SF_DIR_SMALL).collect()
    assert rows
    n_docs_total = sum(r.n_docs for r in rows)
    assert n_docs_total == llm_registry._docs(spark, SF_DIR_SMALL).count()
    for r in rows:
        assert r.total_tokens == r.text_tokens + r.image_tokens
        assert 0.0 < r.image_frac < 1.0
        # every image contributes at least ceil(64/16)^2+1 = 17 tokens
        assert r.image_tokens >= r.n_docs * 17


def test_bbit_minhash_estimators_bracket_truth(spark, docs):
    """Identical docs estimate 1.0 under both signatures; the 1-bit
    estimate is a coarser (higher-variance) version of the full one and
    both live in valid ranges."""
    out = dedup.bbit_minhash_audit(
        docs, F.col("text"), F.col("doc_id"), k=3, threshold=0.5
    ).collect()
    rows = {(r.doc_a, r.doc_b): r for r in out}
    ident = rows[(1, 2)]  # exact duplicates
    assert ident.jaccard == 1.0
    assert ident.est_full == 1.0 and ident.est_1bit == 1.0
    assert ident.n_full_match == dedup.NUM_HASHES
    for r in out:
        assert 0.0 <= r.est_full <= 1.0
        assert -1.0 <= r.est_1bit <= 1.0
        assert r.n_bit_match >= r.n_full_match  # bit match is implied


def test_ndcg_audit_bounds_and_perfect_case(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    r = llm_registry.s26_ndcg_audit(spark, SF_DIR_SMALL).collect()[0]
    assert r.k == llm_registry.TOPK
    assert 0 <= r.n_hits <= r.k
    assert 0 <= r.dcg_scaled <= r.idcg_scaled
    assert 0.0 <= r.ndcg <= 1.0
    # if LSH returned the exact set in order, dcg == idcg; if it found
    # n_hits of k, dcg is at most the top-n_hits discount mass
    top = sorted(llm_registry.NDCG_DISCOUNTS.values(), reverse=True)
    assert r.dcg_scaled <= sum(top[: r.n_hits])


def test_lsh_planner_scurve_shape(spark):
    """More bands at fixed budget = more candidates at every J (the
    planner's whole point); expected candidates + misses = n_pairs."""
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.d37_lsh_planner(spark, SF_DIR_SMALL).collect()
    assert rows
    byconf = {}
    for r in rows:
        byconf.setdefault((r.n_bands, r.rows_per_band), {})[r.j_bucket] = r
    assert set(byconf) == set(llm_registry.LSH_PLAN_CONFIGS)
    buckets = sorted({r.j_bucket for r in rows})
    for j in buckets:
        # P(candidate) is monotone in n_bands at fixed 16-hash budget
        ordered = sorted(
            (conf for conf in byconf if j in byconf[conf]),
            key=lambda c: c[0],
        )
        ps = [byconf[c][j].p_candidate for c in ordered]
        assert ps == sorted(ps)
    for r in rows:
        assert abs((r.exp_candidates + r.exp_misses) - r.n_pairs) < 2e-6 * max(r.n_pairs, 1)


def test_pack_attention_waste_formula(spark):
    """Waste fraction matches the hand formula on the real packing, and
    single-doc bins contribute zero cross waste."""
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    packed = {
        (r.source, r.bin): []
        for r in llm_registry.c05_greedy_pack(spark, SF_DIR_SMALL).collect()
    }
    for r in llm_registry.c05_greedy_pack(spark, SF_DIR_SMALL).collect():
        packed[(r.source, r.bin)].append(r.n_tokens)
    out = {r.source: r for r in
           llm_registry.c31_pack_attention_waste(spark, SF_DIR_SMALL).collect()}
    import collections
    by_source = collections.defaultdict(lambda: [0, 0])
    for (src, _), ls in packed.items():
        s1 = sum(ls)
        by_source[src][0] += s1 * s1
        by_source[src][1] += sum(x * x for x in ls)
    for src, (pair, intra) in by_source.items():
        r = out[src]
        assert r.pair_flops == pair and r.intra_flops == intra
        assert 0.0 <= r.cross_waste_frac < 1.0
        import math
        assert r.cross_waste_frac == math.floor((pair - intra) / pair * 1e6 + 0.5) / 1e6


def test_removal_budget_monotone_and_bounded(spark):
    """Removal count is nonincreasing in the threshold, fractions are
    valid, and the strictest cutoff removes no more docs than pairs
    exist."""
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = sorted(
        llm_registry.d38_removal_budget(spark, SF_DIR_SMALL).collect(),
        key=lambda r: r.threshold,
    )
    assert [r.threshold for r in rows] == [x / 10 for x in range(1, 10)]
    removed = [r.n_removed for r in rows]
    assert removed == sorted(removed, reverse=True)
    n_docs = llm_registry._docs(spark, SF_DIR_SMALL).count()
    for r in rows:
        assert 0 <= r.n_removed <= n_docs
        assert 0.0 <= r.removal_frac <= 1.0


def test_arrow_byte_stats_pure_arrow_kernel(spark, docs):
    out = {r.doc_id: r for r in multimodal.arrow_byte_stats(
        multimodal.to_binary_table(docs, "text", "doc_id")
    ).collect()}
    texts = dict(DOCS)
    for i, t in texts.items():
        assert out[i].n_bytes == len(t.encode())
        assert out[i].head == t[:4]
        assert out[i].tail == t[-4:]


def test_filtered_ann_prefilter_semantics(spark):
    """Every hit carries the requested label; hits absent from the
    global top-k are exactly the post-filter recall loss."""
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = llm_registry.s27_filtered_ann(spark, SF_DIR_SMALL).collect()
    assert len(rows) == llm_registry.TOPK
    assert all(r.label == llm_registry.FILTERED_ANN_LABEL for r in rows)
    cos = [r.cosine for r in rows]
    assert cos == sorted(cos, reverse=True)
    # the global top-k over ~4 labels rarely contains 10 of one label:
    # at least one pre-filter hit must be invisible to post-filtering
    assert any(not r.in_postfilter for r in rows)


def test_cdc_chunking_insert_robustness(spark):
    """The CDC property: inserting a token near the START of a doc
    leaves the doc's LATER chunks identical (boundaries are content-
    defined), so the two versions share duplicate chunks — where a
    fixed-window chunker would shift every downstream chunk."""
    from mbta_etl_spark.plans import llm_registry

    base = " ".join(f"w{i}" for i in range(120))
    shifted = "zzz " + base  # one token inserted at the front
    df = spark.createDataFrame(
        [(1, base), (2, shifted)], ["doc_id", "text"]
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        dup = llm_registry.d39_cdc_chunking(spark, d).collect()
    # the suffix chunks re-align → at least one cross-doc duplicate
    assert any(r.n_docs == 2 for r in dup)
    for r in dup:
        assert r.tokens_redundant == (r.n_copies - 1) * r.chunk_len
        assert r.keep_doc == 1


def test_chunker_comparison_two_strategies(spark):
    from mbta_etl_spark.plans import llm_registry
    from tests.conftest import SF_DIR_SMALL

    rows = {r.chunker: r for r in
            llm_registry.d40_chunker_comparison(spark, SF_DIR_SMALL).collect()}
    assert set(rows) == {"fixed_window", "cdc"}
    for r in rows.values():
        assert r.n_copies >= 2 * r.n_dup_chunks or r.n_dup_chunks == 0
        assert r.tokens_redundant >= 0


def test_t31_feature_hashing_census_invariants(spark):
    """The census partitions the vocabulary exactly: sum over classes of
    class*n_slots == distinct tokens, total_occurrences sums to the
    corpus token count, and every slot id is < B by construction."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.text import feature_hashing_census
    from tests.conftest import SF_DIR_SMALL

    docs = spark.read.parquet(f"{SF_DIR_SMALL}/documents.parquet")
    out = feature_hashing_census(docs, F.col("text"), n_buckets=64).collect()
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    v = toks.select("tok").distinct().count()
    n = toks.count()
    assert sum(r.collision_class * r.n_slots for r in out) == v
    assert sum(r.total_occurrences for r in out) == n
    # with V >> B=64 buckets every slot is hit: slots sum to exactly 64
    assert sum(r.n_slots for r in out) <= 64


def test_winnowing_detection_floor_guarantee(spark):
    """The MOSS guarantee the operator exists for: two docs sharing a
    run of >= w+k-1 tokens ALWAYS share at least one fingerprint —
    regardless of surrounding text — while unrelated docs (disjoint
    vocabulary) share none."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.dedup import winnowing_pairs

    k, w = 3, 4
    shared = " ".join(f"s{i}" for i in range(w + k - 1))  # 6 tokens
    rows = [
        (1, "alpha beta " + shared + " gamma delta"),
        (2, "one two three " + shared),
        (3, "p q r s t u v w x y z"),  # disjoint vocabulary
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in winnowing_pairs(
            df, F.col("text"), F.col("doc_id"), k=k, w=w,
            min_shared=1, max_fp_df=None,
        ).collect()
    }
    assert (1, 2) in pairs  # the guaranteed detection
    assert not any(3 in p for p in pairs)  # disjoint doc matches nothing


def test_winnowing_density_and_short_doc_degradation(spark):
    """Fingerprint density ~ 2/(w+1) of grams on random text, and the
    short-doc contracts: fewer grams than a window -> one fingerprint,
    fewer tokens than a gram -> whole-text hash (one fingerprint)."""
    import random

    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(7)
    long_text = " ".join(
        f"t{rng.randrange(10**9)}" for _ in range(500)
    )
    rows = [(1, long_text), (2, "a b c d"), (3, "xy")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnowing_fingerprints(
        df, F.col("text"), F.col("doc_id"), k=3, w=4
    )
    counts = {
        r.doc_id: r.n for r in fps.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    n_grams = 500 - 2
    # selection density: expected 2/(w+1) = 0.4; allow a wide band
    assert 0.2 * n_grams < counts[1] < 0.6 * n_grams
    assert counts[2] == 1  # 2 grams < w -> single whole-array min
    assert counts[3] == 1  # 1 token < k -> whole-text hash


def test_embedding_decontaminate_degenerate_vectors(spark):
    """Review r4: NULL and zero-norm train vectors degrade to a NULL
    peak (counted in n_train, never flagged, never NaN-flagged, no
    ragged-numpy crash) — including under ANSI mode, where an unguarded
    0/0 in the unit transform would raise DIVIDE_BY_ZERO."""
    from mbta_etl_spark.operators.dedup import embedding_decontaminate

    rows = [
        (0, 0, [1.0, 0.0]),   # eval
        (1, 1, [1.0, 0.0]),   # identical -> flagged
        (2, 1, None),         # null vector
        (3, 1, [0.0, 0.0]),   # zero norm
        (4, 2, [0.0, 1.0]),   # orthogonal -> unflagged
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = {
            r.label: r
            for r in embedding_decontaminate(
                df, "embedding", "vec_id", "label",
                eval_label=0, threshold=0.9,
            ).collect()
        }
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.ansi.enabled", prev)
        else:
            spark.conf.unset("spark.sql.ansi.enabled")
    assert out[1].n_train == 3 and out[1].n_flagged == 1
    assert out[1].peak_cosine == 1.0
    assert out[2].n_train == 1 and out[2].n_flagged == 0


def test_embedding_decontaminate_degenerate_eval_vectors(spark):
    """ADVICE r4: EVAL-side degenerates must not crash or poison the
    comparison matrix. A NULL / zero-norm eval embedding makes unit()
    yield NULL (None in the collected list -> np.array ValueError), and
    a NULL *element* inside an eval vector becomes NaN in the matrix,
    which would turn EVERY train row's peak into NaN through
    (m @ emat.T).max(axis=1). Both must be dropped so the healthy eval
    vector alone drives the peaks — the old broadcast-join plan's
    behavior (null cosines ignored by F.max)."""
    from mbta_etl_spark.operators.dedup import embedding_decontaminate

    rows = [
        (0, 0, [1.0, 0.0]),         # healthy eval
        (1, 0, None),               # NULL eval vector
        (2, 0, [0.0, 0.0]),         # zero-norm eval -> NULL unit
        (3, 0, [None, 1.0]),        # NULL element -> NaN in matrix
        (4, 1, [1.0, 0.0]),         # identical to healthy eval -> flagged
        (5, 1, [0.0, 1.0]),         # orthogonal -> unflagged, peak 0.0
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    out = {
        r.label: r
        for r in embedding_decontaminate(
            df, "embedding", "vec_id", "label",
            eval_label=0, threshold=0.9,
        ).collect()
    }
    assert out[1].n_train == 2 and out[1].n_flagged == 1
    assert out[1].peak_cosine == 1.0  # not NaN, not NULL


def test_embedding_decontaminate_all_eval_degenerate(spark):
    """When every eval vector is degenerate the comparison matrix is
    empty -> the documented empty-eval path (same contract as zero eval
    rows): empty census, no crash."""
    from mbta_etl_spark.operators.dedup import embedding_decontaminate

    rows = [
        (0, 0, None),
        (1, 0, [0.0, 0.0]),
        (2, 1, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    out = embedding_decontaminate(
        df, "embedding", "vec_id", "label", eval_label=0, threshold=0.9
    ).collect()
    assert out == []


def test_substring_dedup_exact_lcs_and_threshold(spark):
    """d42's operator recovers the EXACT longest-common-substring length
    (w=4, resolution-complete for runs >= w) and drops pairs below
    min_len; an overlapping-but-short run never leaks in."""
    from mbta_etl_spark.operators.dedup import substring_dedup_pairs

    shared10 = " ".join(f"s{i}" for i in range(10))
    shared5 = " ".join(f"u{i}" for i in range(5))
    rows = [
        (1, "a b c " + shared10 + " d e"),
        (2, shared10 + " x y z"),          # 10-token run with doc 1
        (3, "p q " + shared5 + " r"),
        (4, shared5 + " m n o"),           # only a 5-token run with doc 3
        (5, "k1 k2 k3 k4 k5 k6 k7 k8"),    # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_a, r.doc_b): r.lcs_tokens
        for r in substring_dedup_pairs(
            df, F.col("text"), F.col("doc_id"),
            w=4, min_len=8, max_win_occ=50,
        ).collect()
    }
    assert out == {(1, 2): 10}  # exact LCS; (3,4)'s 5 < 8 dropped


def test_substring_dedup_diagonal_merge_not_fooled_by_repeats(spark):
    """A token run shared at DIFFERENT offsets (and a window repeated
    within one doc) must still merge per diagonal: the reported LCS is
    the longest single aligned run, not the sum of scattered matches."""
    from mbta_etl_spark.operators.dedup import substring_dedup_pairs

    run = " ".join(f"r{i}" for i in range(6))  # 6-token run
    rows = [
        # doc 1 contains the run twice (two diagonals vs doc 2)
        (1, run + " mid1 mid2 " + run),
        (2, "x1 x2 " + run + " y1 y2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_dedup_pairs(
        df, F.col("text"), F.col("doc_id"), w=3, min_len=6, max_win_occ=50
    ).collect()
    assert len(out) == 1 and out[0].lcs_tokens == 6


def test_substring_dedup_boilerplate_cap_drops_hot_window(spark):
    """max_win_occ: a window occurring corpus-wide above the cap is
    excluded from pair generation (the d03 df-cap argument), so
    boilerplate cannot create a quadratic block."""
    from mbta_etl_spark.operators.dedup import substring_dedup_pairs

    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [(i, boiler + f" tail{i}") for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kwargs = dict(w=4, min_len=8, max_win_occ=50)
    assert substring_dedup_pairs(
        df, F.col("text"), F.col("doc_id"), **kwargs
    ).count() == 15  # 6 choose 2 below the cap
    capped = substring_dedup_pairs(
        df, F.col("text"), F.col("doc_id"), w=4, min_len=8, max_win_occ=5
    )
    assert capped.count() == 0  # every shared window occurs 6x > cap
