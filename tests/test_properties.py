"""Property-based invariants (hypothesis) for the operators whose
correctness is set-theoretic rather than example-shaped: Jaccard
verification, SCD2 history, deterministic bucketing, PK dedup.

Few examples per property (Spark round-trips are ~100ms each); the
properties themselves are exact, not statistical.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_settings = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),  # doc id
        st.lists(st.sampled_from("abcdef"), min_size=0, max_size=6),  # grams
    ),
    min_size=2,
    max_size=6,
    unique_by=lambda t: t[0],
)


@_settings
@given(_docs)
def test_jaccard_verify_arrays_matches_set_math(spark, docs):
    from lakehouse_architecture_spark.operators.minhash import (
        jaccard_verify_arrays,
    )

    g = spark.createDataFrame(
        [(d, sorted(set(gr))) for d, gr in docs], "doc long, grams array<string>"
    )
    ids = sorted(d for d, _ in docs)
    pairs = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1 :]],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in jaccard_verify_arrays(pairs, g).collect()
    }
    sets = {d: set(gr) for d, gr in docs}
    for (a, b), j in got.items():
        union = sets[a] | sets[b]
        if not union:
            assert j is None  # both empty -> undefined, never fabricated 0
        else:
            expect = len(sets[a] & sets[b]) / len(union)
            assert abs(j - expect) < 1e-12
            assert 0.0 <= j <= 1.0


_snapshots = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),
        st.sampled_from(["x", "y", "z"]),
    ),
    min_size=1,
    max_size=5,
    unique_by=lambda t: t[0],
)


@_settings
@given(_snapshots, _snapshots)
def test_scd2_invariants(spark, snap1, snap2):
    """After any apply: exactly one open row per key, intervals are
    properly ordered, and the as-of state after the change equals the
    merged snapshot."""
    from lakehouse_architecture_spark.operators.scd import (
        scd2_apply,
        scd2_as_of,
        scd2_bootstrap,
    )

    df1 = spark.createDataFrame(snap1, "k int, v string")
    df2 = spark.createDataFrame(snap2, "k int, v string")
    hist = scd2_bootstrap(df1, "k", ["v"], "2024-01-01")
    hist2 = scd2_apply(hist, df2, "k", ["v"], "2024-06-01").cache()

    open_per_key = (
        hist2.filter("is_current").groupBy("k").count().collect()
    )
    assert all(r["count"] == 1 for r in open_per_key)
    assert hist2.filter("valid_from >= valid_to").count() == 0

    # as-of after the change: snap2 wins where present, snap1 otherwise
    expect = dict(snap1)
    expect.update(dict(snap2))
    got = {r.k: r.v for r in scd2_as_of(hist2, "2024-07-01").collect()}
    assert got == expect
    hist2.unpersist()


@_settings
@given(st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=20))
def test_hash_bucket_deterministic_and_engine_portable(spark, ids):
    """hash_bucket must equal the documented md5-prefix function exactly
    (the property the DuckDB oracles and split stability rely on)."""
    from lakehouse_architecture_spark.queries.sampling import hash_bucket

    df = spark.createDataFrame([(i,) for i in set(ids)], "id long")
    got = {r.id: r.bucket for r in df.select("id", hash_bucket(F.col("id"))).collect()}
    for i in set(ids):
        expect = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
        assert got[i] == expect


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=12,
    )
)
def test_dedupe_by_key_keeps_min_and_is_idempotent(spark, rows):
    from lakehouse_architecture_spark.operators.dedup import dedupe_by_key

    df = spark.createDataFrame(rows, "k int, v int")
    out = dedupe_by_key(df, ["k"]).collect()
    expect = {}
    for k, v in rows:
        expect[k] = min(v, expect.get(k, v))
    assert {(r.k, r.v) for r in out} == set(expect.items())
    out_df = spark.createDataFrame(out, "k int, v int")
    assert {(r.k, r.v) for r in dedupe_by_key(out_df, ["k"]).collect()} == set(
        expect.items()
    )


# ---- pure-Python codec properties (no Spark round-trip: fast, so the
# example budget can be larger) ----

_codec_settings = settings(max_examples=40, deadline=None)


@_codec_settings
@given(
    st.integers(min_value=1, max_value=12),   # height
    st.integers(min_value=1, max_value=12),   # width
    st.sampled_from([1, 2, 3, 4]),            # channels
    st.integers(min_value=0, max_value=2**32 - 1),  # content seed
)
def test_png_roundtrip_property(h, w, ch, seed):
    """encode_png -> decode_png is the identity for every uint8 array
    shape the encoder accepts."""
    import numpy as np

    from lakehouse_architecture_spark.operators.codecs import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px)), px)


@_codec_settings
@given(
    st.integers(min_value=1, max_value=500),  # frames
    st.sampled_from([1, 2]),                  # channels
    st.sampled_from([1, 2, 4]),               # sample width (bytes)
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_wav_roundtrip_property(n, ch, width, seed):
    """encode_wav -> decode_wav preserves rate, frame count, channel
    shape and the exact sample values for every PCM width."""
    import numpy as np

    from lakehouse_architecture_spark.operators.codecs import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(seed)
    if width == 1:
        s = rng.integers(0, 256, size=(n, ch))
    else:
        full = 2 ** (8 * width - 1) - 1
        s = rng.integers(-full - 1, full + 1, size=(n, ch))
    d = decode_wav(encode_wav(s, 16000, sampwidth=width))
    assert (d["sample_rate"], d["n_samples"], d["n_channels"]) == (16000, n, ch)
    expect = s - 128 if width == 1 else s
    assert np.array_equal(d["samples"], expect)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=30),       # custkey
            st.floats(min_value=0.01, max_value=99999.99,
                      allow_nan=False, allow_infinity=False),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_pareto_two_phase_matches_global_window(spark, rows):
    """The bucketed two-phase prefix sum in orders_pareto_concentration
    must reproduce the naive global-cumulative-window answer for any
    revenue distribution (duplicates, single customer, uniform)."""
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.queries.advanced import (
        orders_pareto_concentration,
    )

    with tempfile.TemporaryDirectory() as d:
        df = spark.createDataFrame(
            [
                (i, ck, "O", float(p), None, "1-URGENT")
                for i, (ck, p) in enumerate(rows)
            ],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string",
        )
        df.write.parquet(f"{d}/orders.parquet")
        got = orders_pareto_concentration(spark, d).collect()[0].asDict()

    # naive reference: global sort + running sum in Python
    from collections import defaultdict

    rev = defaultdict(int)
    for i, (ck, p) in enumerate(rows):
        rev[ck] += int(round(p * 100))
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(v for _, v in ranked)
    expect = {"n_customers": len(ranked), "total_revenue_cents": total}
    cum, found = 0, {}
    for rnk, (_, v) in enumerate(ranked, start=1):
        cum += v
        for pct in (50, 80, 95):
            if pct not in found and cum * 100 >= total * pct:
                found[pct] = rnk
    expect.update(
        {
            "n_top_for_50pct": found[50],
            "n_top_for_80pct": found[80],
            "n_top_for_95pct": found[95],
        }
    )
    assert got == expect


@given(
    st.integers(min_value=0, max_value=2**64 - 1),
    st.lists(st.integers(min_value=0, max_value=63), max_size=7),
)
@settings(max_examples=30, deadline=None)
def test_dhash_band_pigeonhole_recall(base, flip_bits):
    """Any pair within Hamming distance 7 must share at least one of
    the 8 byte bands EXACTLY (the recall guarantee image_near_dup_pairs
    relies on for candidate generation)."""
    other = base
    for b in set(flip_bits):
        other ^= 1 << b
    shares = any(
        (base >> (8 * i)) & 255 == (other >> (8 * i)) & 255 for i in range(8)
    )
    assert shares


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-50, max_value=50),
        ),
        min_size=1,
        max_size=80,
    ),
    st.lists(st.integers(min_value=1, max_value=100), min_size=1,
             max_size=4, unique=True),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grouped_exact_percentiles_matches_sort(spark, rows, pcts):
    """The aggregate-then-rank member equals the naive sorted-list
    selection value[ceil(p*n/100)-1] for every group and percentile
    (duplicates included — the frequency collapse must not shift
    ranks)."""
    import math

    from lakehouse_architecture_spark.operators.quantiles import (
        grouped_exact_percentiles,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "grp string, value double"
    )
    got = {
        (r.grp, r.pct): (r.n_rows, r.pct_value)
        for r in grouped_exact_percentiles(df, ["grp"], "value", pcts).collect()
    }
    from collections import defaultdict

    by_grp = defaultdict(list)
    for g, v in rows:
        by_grp[g].append(float(v))
    expect = {}
    for g, vals in by_grp.items():
        vals.sort()
        for p in set(pcts):
            k = math.ceil(p * len(vals) / 100.0)
            expect[(g, p)] = (len(vals), vals[k - 1])
    assert got == expect


_cms_keys = st.lists(
    st.integers(min_value=0, max_value=9), min_size=1, max_size=20
)


@_settings
@given(_cms_keys, st.integers(min_value=1, max_value=3),
       st.integers(min_value=1, max_value=16))
def test_cms_estimate_upper_bounds_exact_counts(spark, keys, depth, width):
    """For ANY multiset, depth and width: est(k) >= true(k) for every
    key, and the global cell mass per hash row equals the row count."""
    from collections import Counter

    from lakehouse_architecture_spark.operators.cms import (
        cms_counters,
        cms_estimate,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    uniq = spark.createDataFrame(
        [(k,) for k in set(keys)], "k long"
    )
    sk = cms_counters(df, "k", depth=depth, width=width)
    est = {
        r.k: r.est_cnt
        for r in cms_estimate(sk, uniq, "k", depth=depth, width=width).collect()
    }
    exact = Counter(keys)
    assert all(est[k] >= exact[k] for k in exact)
    mass = {
        r["__cms_d"]: r["m"]
        for r in sk.groupBy("__cms_d").agg(F.sum("cnt").alias("m")).collect()
    }
    assert mass == {d: len(keys) for d in range(depth)}


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=1, max_value=9),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    ),
    st.integers(min_value=1, max_value=5),
)
def test_weighted_sample_matches_reference_selection(spark, rows, k):
    """The Spark Efraimidis-Spirakis top-k equals the same formula
    evaluated in plain Python over (id, weight) pairs — selection is a
    pure function of the ids and weights."""
    import math

    df = spark.createDataFrame(rows, "doc_id long, weight int")
    u_col = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 1
    ) / F.lit(4294967297.0)
    key = -F.ln(u_col) / F.col("weight")
    got = [
        r.doc_id
        for r in df.select("doc_id", key.alias("k"))
        .orderBy(F.asc("k"), F.asc("doc_id"))
        .limit(k)
        .collect()
    ]

    def py_key(doc_id: int, w: int) -> float:
        u = (int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) + 1) / 4294967297.0
        return -math.log(u) / w

    expect = [
        d for d, _w in sorted(rows, key=lambda t: (py_key(*t), t[0]))
    ][:k]
    assert got == expect


_bloom_keys = st.tuples(
    st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=20),
    st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=20),
)


@_settings
@given(_bloom_keys)
def test_bloom_never_drops_a_true_match(spark, keysets):
    from lakehouse_architecture_spark.operators.bloom import bloom_prefilter

    dim_keys, fact_keys = keysets
    dim = spark.createDataFrame([(k,) for k in sorted(dim_keys)], "k long")
    fact = spark.createDataFrame([(k,) for k in sorted(fact_keys)], "k long")
    passed = {
        r.k for r in bloom_prefilter(fact, "k", dim, "k", 1024, 3).collect()
    }
    # completeness: every true member passes; soundness is probabilistic
    assert (fact_keys & dim_keys) <= passed
    assert passed <= fact_keys


_names = st.lists(
    st.text(alphabet="abc", min_size=0, max_size=4),
    min_size=2,
    max_size=6,
    unique=True,
)


@_settings
@given(_names)
def test_fuzzy_d1_matches_brute_force(spark, names):
    from lakehouse_architecture_spark.operators.fuzzy import fuzzy_pairs_d1

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rows = list(enumerate(names))
    df = spark.createDataFrame(rows, "id long, name string")
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_pairs_d1(df, "name", "id").collect()
    }
    want = {
        (i, j)
        for i, a in rows
        for j, b in rows
        if i < j and lev(a, b) <= 1
    }
    assert got == want  # deletion-neighborhood blocking is COMPLETE at d=1


_xy = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=-50, max_value=50),
    ),
    min_size=3,
    max_size=10,
)


@_settings
@given(_xy)
def test_ols_matches_numpy_closed_form(spark, pts):
    import numpy as np
    from hypothesis import assume

    from lakehouse_architecture_spark.operators.ols import simple_ols

    xs = np.array([p[0] for p in pts], dtype=float)
    ys = np.array([p[1] for p in pts], dtype=float)
    assume(len(set(xs)) > 1)  # slope defined only with x-variance
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in pts], "x double, y double"
    )
    r = simple_ols(df, "x", "y").collect()[0]
    slope, intercept = np.polyfit(xs, ys, 1)
    assert abs(r.slope - slope) < 1e-8
    assert abs(r.intercept - intercept) < 1e-8


def test_grouped_ols_centered_large_offset_exact(spark):
    """Bank of the r7 driver red row (orders_trend_by_segment):
    fitting a KNOWN line on a large-offset regressor (x0 ~ 25,000,
    the month-index magnitude) must recover slope and intercept to
    1e-9 — which only holds when the caller centers x on a pinned
    base BEFORE the moments, the fix the query now applies.
    Uncentered, n*Sxx - Sx^2 cancels ~5e15-magnitude doubles and the
    intercept amplifies the residual by Sx; this test fails under
    that formulation (verified while writing it)."""
    from lakehouse_architecture_spark.operators.ols import grouped_ols

    base = 25000
    lines = {"g1": (12.5, 3.25), "g2": (-40.0, 0.125), "g3": (7.0, -2.5)}
    rows = []
    for g, (a, b) in lines.items():
        for dx in range(-60, 61, 3):
            x = base + dx
            # y exactly representable: slope/intercept are dyadic
            rows.append((g, float(x), a + b * (x - base)))
    df = spark.createDataFrame(rows, "g string, x double, y double")
    centered = df.select(
        "g", (F.col("x") - F.lit(float(base))).alias("xc"), "y"
    )
    got = {
        r.g: (r.slope, r.intercept)
        for r in grouped_ols(centered, ["g"], "xc", "y").collect()
    }
    for g, (a, b) in lines.items():
        slope, intercept_at_base = got[g]
        assert abs(slope - b) < 1e-9, (g, slope, b)
        assert abs(intercept_at_base - a) < 1e-9, (g, intercept_at_base, a)


_edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),
        st.integers(min_value=0, max_value=7),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=14,
)


def _bruteforce_core_numbers(edges: set) -> dict:
    """Reference degeneracy decomposition by repeated peeling: for
    k = 1, 2, ... peel to the k-core fixpoint; a node's core number is
    the largest k whose core still contains it."""
    nodes = {x for e in edges for x in e}
    core = {v: 0 for v in nodes}
    cur = set(edges)
    k = 1
    while cur:
        while True:  # peel to the k-core fixpoint
            deg = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            keep = {v for v, d in deg.items() if d >= k}
            nxt = {(a, b) for a, b in cur if a in keep and b in keep}
            if nxt == cur:
                break
            cur = nxt
        for v in {x for e in cur for x in e}:
            core[v] = k
        k += 1
    return core


@_settings
@given(_edges)
def test_core_numbers_match_bruteforce_peel(spark, edges):
    """The h-index fixpoint (operators/kcore.core_numbers) must equal
    the definitional peel-per-k decomposition on arbitrary small
    graphs — the Lü et al. 2016 theorem, exercised beyond the one
    hand-built example. Also pins consistency with kcore_peel by
    construction (both reduce to the same peel reference)."""
    from lakehouse_architecture_spark.operators.kcore import core_numbers

    und = {(min(a, b), max(a, b)) for a, b in edges}
    want = _bruteforce_core_numbers(und)
    df = spark.createDataFrame(sorted(und), "src long, dst long")
    res = core_numbers(df)
    assert res["converged"]
    got = {r.node: r.c for r in res["cores"].collect()}
    assert got == want


_pf_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),  # doc id
        st.lists(
            st.sampled_from("abcdefgh"), min_size=0, max_size=8
        ),  # grams
    ),
    min_size=2,
    max_size=8,
    unique_by=lambda t: t[0],
)


@_settings
@given(_pf_docs, st.sampled_from([(3, 10), (1, 2), (4, 5)]))
def test_prefix_filter_join_matches_bruteforce(spark, docs, thresh):
    """Prefix filtering is EXACT (SSJoin/AllPairs theorem): the
    prefix-indexed join must return precisely the pairs brute-force
    set math finds at J >= t_num/t_den — including threshold-boundary
    pairs (the integer inequality), duplicate grams (set semantics),
    empty sets, and sets whose only shared token is the last element
    of a prefix."""
    from lakehouse_architecture_spark.operators.minhash import (
        prefix_filter_jaccard_pairs,
    )

    t_num, t_den = thresh
    gv = spark.createDataFrame(
        [(i, sorted(set(g))) for i, g in docs],
        "doc long, grams array<string>",
    )
    got = {
        (r.doc_a, r.doc_b, r.n_inter, r.n_union)
        for r in prefix_filter_jaccard_pairs(
            gv, t_num=t_num, t_den=t_den
        ).collect()
    }
    sets = {i: set(g) for i, g in docs}
    want = set()
    for a in sorted(sets):
        for b in sorted(sets):
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union > 0 and t_den * inter >= t_num * union:
                want.add((a, b, inter, union))
    assert got == want


def test_prefix_filter_warm_slot_shared_across_thresholds(spark):
    """The r15 refactor's core claim, pinned: the persisted
    ordered-prefix relation is THRESHOLD-INDEPENDENT, so two queries
    probing different thresholds over the same corpus share one warm
    slot — and the second threshold's results through the WARM slot
    must equal its cold results. (Before the refactor prefix_len was
    baked into the persisted relation; a warm hit from the other
    threshold's build would have sliced the WRONG prefix length.)"""
    from lakehouse_architecture_spark.operators.caching import (
        _SLOTS,
        release_slots,
    )
    from lakehouse_architecture_spark.operators.minhash import (
        prefix_filter_jaccard_pairs,
    )

    docs = [
        (1, ["a", "b", "c", "d", "e"]),
        (2, ["a", "b", "c", "d", "f"]),
        (3, ["a", "b", "x", "y", "z"]),
        (4, ["p", "q"]),
        (5, ["p", "q"]),
    ]
    gv = spark.createDataFrame(
        docs, "doc long, grams array<string>"
    )

    def run(t_num, t_den, slot=None):
        return sorted(
            (r.doc_a, r.doc_b, r.n_inter, r.n_union)
            for r in prefix_filter_jaccard_pairs(
                gv, t_num=t_num, t_den=t_den, slot=slot
            ).collect()
        )

    cold_loose = run(3, 10)
    cold_strict = run(4, 5)
    try:
        # loose first warms the shared slot; strict must reuse it
        warm_loose = run(3, 10, slot="t-pf-shared")
        held = _SLOTS["t-pf-shared"][1]
        warm_strict = run(4, 5, slot="t-pf-shared")
        assert _SLOTS["t-pf-shared"][1] is held
        assert warm_loose == cold_loose
        assert warm_strict == cold_strict
        # and in the driver-window order (strict first), the reverse
        release_slots("t-pf-shared")
        warm_strict2 = run(4, 5, slot="t-pf-shared")
        held = _SLOTS["t-pf-shared"][1]
        warm_loose2 = run(3, 10, slot="t-pf-shared")
        assert _SLOTS["t-pf-shared"][1] is held
        assert warm_strict2 == cold_strict
        assert warm_loose2 == cold_loose
    finally:
        release_slots("t-pf-shared")


@_settings
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[1],
    ),
    st.integers(min_value=1, max_value=40),
)
def test_global_row_number_property(spark, rows, n_range):
    """Two-phase range offsets must equal the plain unpartitioned
    ROW_NUMBER for ANY value distribution — nulls, heavy ties,
    near-unique — and ANY shuffle-partition count (1, more partitions
    than distinct values, fewer). The RangePartitioner-seed pinning
    (localCheckpoint) is exactly the kind of invariant random corpora
    shake out: boundary placement varies with the sampled data, and a
    pid/offset desync would corrupt ranks for some draw."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_spark.operators.ranking import (
        global_row_number,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(n_range))
        df = spark.createDataFrame(
            [(v, f"t{t:07d}") for v, t in rows], "v int, id string"
        ).repartition(7)
        got = {
            r.id: r.rk
            for r in global_row_number(
                df, ["v"], ["id"], out_col="rk"
            ).collect()
        }
        want = {
            r.id: r.rn
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("v", "id"))
            ).collect()
        }
        assert got == want
        assert sorted(got.values()) == list(range(1, len(rows) + 1))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
