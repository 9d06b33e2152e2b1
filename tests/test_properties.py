"""Property-based tests (hypothesis): operator semantics checked against
straight-line Python reference implementations on generated inputs —
the edge-case coverage hand-picked fixtures miss (SURVEY §5 strategy,
strengthened)."""

from __future__ import annotations

import datetime
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from mbta_etl_spark.operators import core
from mbta_etl_spark.pipeline import vehicle_queries as vq
from mbta_etl_spark.pipeline.schema import VEHICLE_SCHEMA

_settings = settings(
    max_examples=12,  # each example runs Spark jobs — keep the budget sane
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _py_cardinal(b: float) -> str:
    """Reference implementation of the cardinal bucketing (mirrors
    reference pipeline/queries.go:250-273 incl. wrap + 360 fallback)."""
    if b >= 337.5 or b < 22.5:
        return "North"
    for lo, name in [
        (22.5, "Northeast"), (67.5, "East"), (112.5, "Southeast"),
        (157.5, "South"), (202.5, "Southwest"), (247.5, "West"),
        (292.5, "Northwest"),
    ]:
        if lo <= b < lo + 45.0:
            return name
    return "North"  # 360 fallback


@given(st.lists(st.floats(min_value=0.0, max_value=360.0, allow_nan=False), min_size=1, max_size=40))
@_settings
def test_cardinal_histogram_matches_python(spark, bearings):
    df = spark.createDataFrame([(float(b),) for b in bearings], ["bearing"])
    out = {
        r["direction"]: r["cnt"]
        for r in core.cardinal_histogram(df, F.col("bearing")).collect()
    }
    expected: dict[str, int] = {d: 0 for d in core.CARDINAL_DIRS}
    for b in bearings:
        expected[_py_cardinal(b)] += 1
    assert out == expected


@given(st.lists(st.floats(min_value=0.01, max_value=1e6, allow_nan=False), min_size=1, max_size=60))
@_settings
def test_discrete_percentiles_match_offset_arithmetic(spark, values):
    df = spark.createDataFrame([(float(v),) for v in values], ["v"])
    out = {r["pct"]: r["value"] for r in core.discrete_percentiles(df, F.col("v")).collect()}
    s = sorted(values)
    n = len(s)
    assert out["p50"] == s[n // 2]
    assert out["p90"] == s[(n * 9) // 10]
    assert out["p95"] == s[(n * 95) // 100]


@given(st.lists(st.one_of(st.just(0.0), st.floats(0.01, 1e3)), min_size=1, max_size=60))
@_settings
def test_summary_stats_percentiles_match_offset_arithmetic(spark, speeds):
    """summary_stats' p-columns are the moving speeds' discrete
    percentiles: stationary vehicles take no rank."""
    now = datetime.datetime(2024, 1, 15, 12, 0, 0)
    rows = [
        (f"v{i}", "l", 42.0, -71.0, s, 0, "STOPPED_AT", "UNKNOWN", 0, now, now)
        for i, s in enumerate(speeds)
    ]
    row = vq.summary_stats(spark.createDataFrame(rows, VEHICLE_SCHEMA)).first()
    s = sorted(v for v in speeds if v > 0)
    for label, num, den in core.PERCENTILE_OFFSETS:
        assert row[label] == (s[len(s) * num // den] if s else None), label


@given(
    st.lists(
        st.tuples(
            st.integers(0, 23),  # hour of day → bucket
            st.sampled_from(["click", "view"]),
            st.floats(-1e3, 1e3, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(0, 39),  # split point between "old" and "new" batch
)
@_settings
def test_rollup_merge_equals_full_aggregation(spark, rows, cut):
    """For ANY batch split, merging per-batch rollup partials equals one
    aggregation over all events — counts/min/max exactly, sums to fp
    tolerance (merge order differs from full-sum order)."""
    from mbta_etl_spark.operators import rollup as ru

    def mk(rs, off):
        return spark.createDataFrame(
            [(off + i, f"2024-01-01 {h:02d}:30:00", k, float(v))
             for i, (h, k, v) in enumerate(rs)],
            ["event_id", "ts", "event_type", "value"],
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    cut = min(cut, len(rows))
    args = (F.col("ts"), F.col("value"), ["event_type"], "hour")
    full = ru.rollup_increment(mk(rows, 0), *args)
    merged = ru.rollup_merge(
        ru.rollup_increment(mk(rows[:cut], 0), *args),
        ru.rollup_increment(mk(rows[cut:], cut), *args),
    ) if cut not in (0, len(rows)) else full
    def canon(df):
        return sorted(
            (r["bucket"], r["event_type"], r["cnt"],
             round(r["sum_value"], 6), r["min_value"], r["max_value"])
            for r in df.collect()
        )
    assert canon(full) == canon(merged)


@given(
    st.dictionaries(st.integers(0, 15), st.one_of(st.none(), st.integers(0, 3)),
                    max_size=12),
    st.dictionaries(st.integers(0, 15), st.one_of(st.none(), st.integers(0, 3)),
                    max_size=12),
)
@_settings
def test_snapshot_diff_matches_python(spark, old_map, new_map):
    """snapshot_diff against a dict-based reference: every key classified,
    null-safe equality (None == None is unchanged)."""
    from mbta_etl_spark.operators import validate

    if not old_map and not new_map:
        return
    mk = lambda m: spark.createDataFrame(
        [(k, v) for k, v in m.items()], "k: bigint, v: bigint"
    )
    out = {
        r["k"]: r["change"]
        for r in validate.snapshot_diff(mk(old_map), mk(new_map), "k", ["v"]).collect()
    }
    expect = {}
    for k in set(old_map) | set(new_map):
        if k not in old_map:
            expect[k] = "added"
        elif k not in new_map:
            expect[k] = "removed"
        elif old_map[k] == new_map[k]:
            expect[k] = "unchanged"
        else:
            expect[k] = "changed"
    assert out == expect


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.floats(0, 1e5, allow_nan=False)),
        min_size=1,
        max_size=50,
    )
)
@_settings
def test_latest_by_key_is_last_write_wins(spark, rows):
    data = [(k, float(v), i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["k", "v", "seq"])
    out = {
        r["k"]: r["seq"]
        for r in core.latest_by_key(df, ["k"], [F.desc("seq")]).collect()
    }
    expected: dict[int, int] = {}
    for k, _, seq in data:
        expected[k] = max(expected.get(k, -1), seq)
    assert out == expected


@given(st.lists(st.floats(-1e3, 1e3, allow_nan=False), min_size=1, max_size=50))
@_settings
def test_threshold_split_partition_is_exhaustive(spark, values):
    df = spark.createDataFrame([(float(v),) for v in values], ["v"])
    row = core.threshold_split(df, F.col("v"), 0.0).collect()[0]
    assert row["n_above"] + row["n_below"] == len(values)
    assert row["n_above"] == sum(1 for v in values if v > 0.0)
    assert math.isclose(
        row["pct_above"], round(row["n_above"] * 100.0 / len(values), 6), abs_tol=1e-9
    )


def _py_greedy_pack(tokens: list[int], cap: int) -> list[int]:
    bins, fill, b = [], 0, 0
    for i, n in enumerate(tokens):
        if i == 0:
            fill = n
        elif fill + n <= cap:
            fill += n
        else:
            b += 1
            fill = n
        bins.append(b)
    return bins


@given(
    st.lists(st.integers(min_value=1, max_value=300), min_size=1, max_size=30),
    st.integers(min_value=50, max_value=400),
)
@_settings
def test_greedy_pack_matches_python_and_invariants(spark, tokens, cap):
    from mbta_etl_spark.operators.sampling import greedy_pack

    df = spark.createDataFrame(
        [("g", i, int(n)) for i, n in enumerate(tokens)],
        "src string, doc_id long, n long",
    )
    rows = sorted(
        greedy_pack(df, "src", "doc_id", F.col("n"), cap).collect(),
        key=lambda r: r["doc_id"],
    )
    got = [r["bin"] for r in rows]
    assert got == _py_greedy_pack(tokens, cap)
    # invariants: bins are contiguous starting at 0; no bin over capacity
    # unless it holds a single oversized doc
    assert got[0] == 0 and all(b2 - b1 in (0, 1) for b1, b2 in zip(got, got[1:]))
    from collections import defaultdict

    per_bin = defaultdict(list)
    for n, b in zip(tokens, got):
        per_bin[b].append(n)
    for members in per_bin.values():
        assert sum(members) <= cap or len(members) == 1


@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=30),
    st.integers(min_value=64, max_value=1024),
)
@_settings
def test_chunk_pack_tiles_stream_exactly(spark, tokens, cap):
    from mbta_etl_spark.operators.sampling import chunk_pack

    df = spark.createDataFrame(
        [(i, int(n)) for i, n in enumerate(tokens)], "doc_id long, n long"
    )
    rows = sorted(
        chunk_pack(df, F.col("doc_id"), F.col("n"), cap).collect(),
        key=lambda r: r["doc_id"],
    )
    # offsets tile the concatenated stream with no gaps or overlaps
    expect_start = 0
    for r, n in zip(rows, tokens):
        assert r["start_off"] == expect_start
        assert r["chunk_first"] == expect_start // cap
        assert r["chunk_last"] == (expect_start + n - 1) // cap
        assert r["n_chunks"] == r["chunk_last"] - r["chunk_first"] + 1
        expect_start += n


@given(
    keys=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=120,
    ),
    phi_denom=st.integers(min_value=2, max_value=6),
)
@_settings
def test_heavy_hitters_match_python_counter(spark, keys, phi_denom):
    """Two-pass Misra–Gries == exact Counter filtering for ANY input and
    threshold: the sketch only nominates candidates; the recount makes
    the final answer exact by construction."""
    from collections import Counter

    from mbta_etl_spark.operators import frequent

    phi = 1.0 / phi_denom
    df = spark.createDataFrame([(k,) for k in keys], "k string").repartition(3)
    got = {
        r.k: r.n_occurrences
        for r in frequent.heavy_hitters_exact(df, "k", phi).collect()
    }
    n = len(keys)
    want = {k: c for k, c in Counter(keys).items() if c > phi * n}
    assert got == want


@given(
    xs=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False),
        min_size=2,
        max_size=25,
    ),
)
@_settings
def test_cusum_matches_python_recursion(spark, xs):
    """cusum_drift == the straight-line Python recursion on any series
    (one bucket per day, so bucket means are the raw values)."""
    import datetime as dt
    import math as m

    from mbta_etl_spark.operators import timeseries

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=i), "s", float(x)) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    got = [
        (r.cusum, r.alarm)
        for r in timeseries.cusum_drift(df, ["key"], "ts", "value")
        .orderBy("bucket")
        .collect()
    ]

    def r6(v):
        return m.floor(v * 1e6 + 0.5) / 1e6

    vals = [r6(x) for x in xs]
    mu = r6(sum(vals) / len(vals))
    nv = len(vals)
    var = sum((v - mu) ** 2 for v in vals) / (nv - 1)
    sd = r6(m.sqrt(var))
    k, h = 0.5 * sd, 4.0 * sd
    s = 0.0
    want = []
    for x in vals:
        s = max(0.0, s + x - mu - k)
        want.append((r6(s), r6(s) > h))
    assert [w[1] for w in want] == [g[1] for g in got]
    for (wc, _), (gc, _) in zip(want, got):
        assert abs(wc - gc) < 1e-5  # stddev accumulation-order tolerance


@given(
    xs=st.lists(
        st.floats(min_value=-40, max_value=40, allow_nan=False),
        min_size=3,
        max_size=20,
    ),
)
@_settings
def test_holt_matches_python_recursion(spark, xs):
    """holt_linear == the straight-line Holt recursion (alpha=0.5,
    beta=0.25) on any series."""
    import datetime as dt
    import math as m

    from mbta_etl_spark.operators import timeseries

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(days=i), "s", float(x)) for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, key string, value double")
    got = [
        r.forecast
        for r in timeseries.holt_linear(df, ["key"], "ts", "value")
        .orderBy("bucket")
        .collect()
    ]

    def r6(v):
        return m.floor(v * 1e6 + 0.5) / 1e6

    vals = [r6(x) for x in xs]
    lvl, trd = vals[0], 0.0
    want = []
    for t in range(1, len(vals)):
        f = lvl + trd
        x = vals[t]
        new_l = 0.5 * x + 0.5 * (lvl + trd)
        trd = 0.25 * (new_l - lvl) + 0.75 * trd
        lvl = new_l
        want.append(r6(f))
    assert got == want


@given(
    stream=st.lists(
        st.sampled_from(list("abcdefghij")), min_size=4, max_size=150
    ),
    cut=st.integers(min_value=1, max_value=149),
    cap=st.integers(min_value=3, max_value=12),
)
@_settings
def test_mg_merge_guarantee_and_bounds(spark, stream, cut, cap):
    """Merging two batch summaries preserves the MG contract on any
    split point: every key with frequency > N/cap survives, and every
    reported count is a lower bound within N/cap of the truth."""
    from collections import Counter

    from mbta_etl_spark.operators.frequent import mg_merge, mg_summarize

    cut = min(cut, len(stream) - 1)
    b1 = spark.createDataFrame([(k,) for k in stream[:cut]], "k string")
    b2 = spark.createDataFrame([(k,) for k in stream[cut:]], "k string")
    merged = {
        r.k: r.cnt
        for r in mg_merge(
            mg_summarize(b1, "k", cap), mg_summarize(b2, "k", cap), "k", cap
        ).collect()
    }
    n = len(stream)
    true = Counter(stream)
    assert len(merged) <= cap
    for k, c in true.items():
        if c > n / cap:
            assert k in merged, (k, c, n, cap)
    for k, c in merged.items():
        assert c <= true[k]
        assert c >= true[k] - n / cap - 1e-9


def _py_bm25(docs: list[tuple[int, str]], terms: tuple[str, ...],
             k1: float = 1.2, b: float = 0.75) -> dict[int, float]:
    """Reference ATIRE-BM25 (no (k1+1) factor), mirroring text.bm25_scores."""
    toks = {i: t.split(" ") for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n
    dfs = [float(sum(1 for v in toks.values() if term in v)) for term in terms]
    out = {}
    for i, v in toks.items():
        score = 0.0
        for term, dfx in zip(terms, dfs):
            tf = float(v.count(term))
            idf = math.log(1.0 + (n - dfx + 0.5) / (dfx + 0.5))
            score = score + idf * tf / (
                tf + 1.2 * (1.0 - 0.75 + 0.75 * len(v) / avgdl)
            )
        out[i] = round(score, 6)
    return out


_WORDS = st.sampled_from(["spark", "join", "window", "data", "the", "x"])


@given(
    st.lists(
        st.lists(_WORDS, min_size=1, max_size=12).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
@_settings
def test_bm25_matches_python_reference(spark, texts):
    from mbta_etl_spark.operators import text as text_ops

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = text_ops.bm25_scores(
        df, F.col("text"), F.col("doc_id"), ("spark", "join"), k=len(docs)
    ).collect()
    expected = _py_bm25(docs, ("spark", "join"))
    got = {r["doc_id"]: r["bm25"] for r in out}
    assert set(got) == set(expected)
    for i in expected:
        assert math.isclose(got[i], expected[i], abs_tol=2e-6), (
            i,
            got[i],
            expected[i],
        )
    # ranking property: the Spark top-1 is a python argmax (ties on id)
    top = min(
        expected, key=lambda i: (-expected[i], i)
    )
    assert out[0]["doc_id"] == top


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
            min_size=64, max_size=64,
        ),
        min_size=2, max_size=12,
    )
)
@_settings
def test_hamming_topk_matches_python(spark, vecs):
    """Packed-word Hamming distances equal the straight-line Python
    popcount of sign disagreements, for arbitrary float vectors."""
    from mbta_etl_spark.operators.similarity import hamming_topk

    query = vecs[0]
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {
        r.vec_id: r.hamming
        for r in hamming_topk(
            df, "embedding", "vec_id", query, k=len(vecs)
        ).collect()
    }

    def sig(v):
        # float32 storage: compare via the float32-rounded value
        import struct

        return [
            struct.unpack("f", struct.pack("f", x))[0] > 0.0 for x in v
        ]

    qs = sig(query)
    for i, v in enumerate(vecs):
        expect = sum(a != b for a, b in zip(sig(v), qs))
        assert out[i] == expect


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000_000),
            st.floats(min_value=-1000, max_value=1000, allow_nan=False),
        ),
        min_size=1, max_size=25, unique_by=lambda t: t[0],
    )
)
@_settings
def test_timedecay_smooth_is_convex_combination(spark, points):
    """The smoothed value is a weighted mean: it must lie within the
    [min, max] of its window's raw values, and a singleton window
    reproduces the value exactly."""
    import datetime

    from mbta_etl_spark.operators.timeseries import timedecay_smooth

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, 1, base + datetime.timedelta(seconds=s), float(v))
        for i, (s, v) in enumerate(sorted(points))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    out = sorted(
        timedecay_smooth(df, ["user_id"], "ts", "event_id", "value").collect(),
        key=lambda r: r.event_id,
    )
    vals = [r[3] for r in rows]
    for idx, r in enumerate(out):
        lo = min(vals[max(0, idx - 16): idx + 1]) - 1e-6
        hi = max(vals[max(0, idx - 16): idx + 1]) + 1e-6
        assert lo <= r.smoothed <= hi
    assert abs(out[0].smoothed - vals[0]) < 1e-6


@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),                     # series key
            st.integers(0, 10**6),                 # seq / ts seconds
            st.floats(-100, 100, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: (t[0], t[1]),
    )
)
@_settings
def test_rolling_median_matches_python(spark, rows):
    """Differential check on RANDOM series (beyond the fixed testdata):
    the trailing-7 rolling median equals a straight-line Python
    median over the same 6dp-floored inputs."""
    import datetime

    from mbta_etl_spark.operators import timeseries

    data = [
        (str(k), datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s),
         i, float(v))
        for i, (k, s, v) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k string, ts timestamp_ntz, seq long, value double"
    )
    out = {
        (r.k, r.seq): r.rolling_median
        for r in timeseries.rolling_median(
            df, ["k"], "ts", "seq", "value", lookback=6
        ).collect()
    }

    def r6(x: float) -> float:
        return math.floor(x * 1e6 + 0.5) / 1e6

    by_key: dict[str, list] = {}
    for k, ts, seq, v in data:
        by_key.setdefault(k, []).append((ts, seq, r6(v)))
    for k, pts in by_key.items():
        pts.sort()
        for i in range(len(pts)):
            frame = sorted(p[2] for p in pts[max(0, i - 6) : i + 1])
            n = len(frame)
            med = (
                frame[n // 2]
                if n % 2 == 1
                else (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            )
            assert out[(k, pts[i][1])] == r6(med), (k, i, frame)


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(-5, 5)),
        min_size=1,
        max_size=50,
    )
)
@_settings
def test_compress_consecutive_reconstructs_exactly(spark, rows):
    """Round-trip law on RANDOM band streams: expanding each (start,
    band, run_len) run by LOCF reproduces the original band sequence
    exactly, and the number of emitted rows equals the number of
    transitions + 1 per series."""
    import datetime

    from mbta_etl_spark.operators import timeseries

    data = [
        (str(k), datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i),
         i, float(b * 20))
        for i, (k, b) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "k string, ts timestamp_ntz, seq long, value double"
    )
    out = timeseries.compress_consecutive(
        df, ["k"], "ts", "seq",
        F.floor(F.col("value") / F.lit(20.0)).cast("long"),
        state_name="band",
    ).collect()
    # reconstruct per series and compare to the source sequence
    src: dict[str, list] = {}
    for k, ts, seq, v in data:
        src.setdefault(k, []).append((ts, seq, int(v // 20)))
    for k, pts in src.items():
        pts.sort()
        runs = sorted(
            ((r.ts, r.seq, r.band, r.run_len) for r in out if r.k == k)
        )
        rebuilt = [b for _, _, b, n in runs for _ in range(n)]
        assert rebuilt == [b for _, _, b in pts]
        n_transitions = sum(
            1 for a, b in zip(pts, pts[1:]) if a[2] != b[2]
        )
        assert len(runs) == n_transitions + 1


@given(
    st.lists(
        st.text(alphabet="abcde", min_size=1, max_size=3),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_winnowing_fingerprints_match_python(spark, tokens):
    """Differential check of the winnowing selection on random token
    streams: the Spark HOF pipeline selects exactly the same fingerprint
    SET as a straight-line Python implementation of the algorithm."""
    import hashlib

    from mbta_etl_spark.operators.dedup import winnowing_fingerprints

    k, w = 3, 4
    text = " ".join(tokens)

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    if len(tokens) >= k:
        grams = [
            h(" ".join(tokens[i : i + k]))
            for i in range(len(tokens) - k + 1)
        ]
    else:
        grams = [h(text)]
    if len(grams) >= w:
        expected = {
            min(grams[j : j + w]) for j in range(len(grams) - w + 1)
        }
    else:
        expected = {min(grams)}

    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        r.fp
        for r in winnowing_fingerprints(
            df, F.col("text"), F.col("doc_id"), k=k, w=w
        ).collect()
    }
    assert got == expected
