"""Differentially-private histograms (binary mechanism) — mirrors
web/.../dataStructures/DPHistogram.java + IntervalDecomposition.java
semantics; determinism makes every noisy count reproducible."""

import math

import pytest

from hillview_spark.operators import privacy as P


def test_dyadic_decomposition_tiles_and_aligns():
    for left, right in [(0, 1), (0, 16), (5, 45), (3, 64), (17, 1000), (7, 7)]:
        nodes = P.dyadic_decomposition(left, right)
        pos = left
        for start, size in nodes:
            assert start == pos
            assert size & (size - 1) == 0  # power of two
            assert start % size == 0  # aligned on its own size
            pos += size
        assert pos == max(left, right)


def test_kadic_decomposition_tiles():
    for left, right in [(0, 1), (0, 400), (5, 45), (21, 401), (0, 50), (399, 400)]:
        nodes = P.kadic_decomposition(left, right, 20)
        pos = left
        for start, size in nodes:
            assert start == pos
            # size is a power of 20
            p = round(math.log(size, 20))
            assert 20**p == size
            pos += size
        assert pos == max(left, right)


def test_kadic_k_leaves_special_case():
    # right - left == k: k unit leaves, no root node
    # (IntervalDecomposition.java:102-108)
    assert P.kadic_decomposition(0, 20, 20) == [(i, 1) for i in range(20)]


def test_noise_scale_matches_reference_formula():
    # ceil(log_20 50) = 2 -> scale 2/eps  (PrivacyUtils.java:18-27)
    assert P.noise_scale(1.0, 50) == 2.0
    assert P.noise_scale(0.5, 50) == 4.0
    # 2-D: product of the per-dimension ceil-logs
    assert P.noise_scale(1.0, 50, 400) == 2.0 * 2.0
    assert P.noise_scale(2.0, 20) == 0.5


def test_node_noise_deterministic_and_linear_in_scale():
    a = P.node_noise(7, 0, 2.0, (0, 20))
    assert a == P.node_noise(7, 0, 2.0, (0, 20))
    # same uniform, double the scale -> exactly double the noise
    assert P.node_noise(7, 0, 4.0, (0, 20)) == pytest.approx(2 * a, rel=1e-12)
    # different seed / column / node -> different draw
    assert a != P.node_noise(8, 0, 2.0, (0, 20))
    assert a != P.node_noise(7, 1, 2.0, (0, 20))
    assert a != P.node_noise(7, 0, 2.0, (1, 20))


def test_interval_noise_sums_node_draws():
    scale = 2.0
    total, n = P.interval_noise(0, 45, scale, seed=3)
    nodes = P.kadic_decomposition(0, 45, 20)
    assert n == len(nodes)
    assert total == pytest.approx(
        sum(P.node_noise(3, 0, scale, nd) for nd in nodes), rel=1e-12
    )


def test_dp_histogram_equals_exact_plus_noise(spark):
    rows = [(float(v),) for v in range(1, 51) for _ in range(v)]  # count(v)=v
    df = spark.createDataFrame(rows, "x double")
    out = P.dp_histogram(
        df, "x", lo=1.0, hi=51.0, granularity=1.0, epsilon=1.0,
        buckets=10, seed=11,
    ).collect()
    assert [r.bucket for r in out] == list(range(10))
    scale = P.noise_scale(1.0, 50)
    for r in out:
        # bucket i covers values [1+5i, 1+5(i+1)): exact = sum of 5 ints
        exact = sum(range(1 + 5 * r.bucket, 1 + 5 * (r.bucket + 1)))
        noise, n = P.interval_noise(5 * r.bucket, 5 * (r.bucket + 1), scale, 11)
        assert r.n_intervals == n
        assert r.noisy_count == math.floor(exact + noise + 0.5)
        assert r.variance == pytest.approx(n * P.laplace_variance(scale))


def test_dp_histogram_deterministic(spark, tables):
    kw = dict(lo=1.0, hi=51.0, granularity=1.0, epsilon=0.5, buckets=10, seed=4)
    a = P.dp_histogram(tables["lineitem"], "l_quantity", **kw).collect()
    b = P.dp_histogram(tables["lineitem"], "l_quantity", **kw).collect()
    assert a == b


def test_dp_cdf_monotone_and_noised(spark, tables):
    out = P.dp_histogram(
        tables["lineitem"], "l_quantity",
        lo=1.0, hi=51.0, granularity=1.0, epsilon=1.0, buckets=10,
        seed=5, cdf=True,
    ).collect()
    counts = [r.noisy_count for r in out]
    assert counts == sorted(counts)  # running max enforced
    # CDF noise decomposes [0, right): last bucket covers all 50 leaves
    assert out[-1].n_intervals == len(P.kadic_decomposition(0, 50, 20))


def test_dp_heatmap_dense_and_deterministic(spark, tables):
    kw = dict(
        xlo=1.0, xhi=51.0, xgranularity=1.0,
        ylo=0.0, yhi=0.11, ygranularity=0.01,
        epsilon=1.0, xbuckets=5, ybuckets=4, seed=9,
    )
    li = tables["lineitem"]
    a = P.dp_heatmap(li, "l_quantity", "l_discount", **kw)
    rows = a.collect()
    assert len(rows) == 5 * 4  # dense spine
    assert rows == P.dp_heatmap(li, "l_quantity", "l_discount", **kw).collect()
    # 2-D scale: ceil(log20 50) * ceil(log20 11) = 2 * 1
    scale = P.noise_scale(1.0, 50, 11)
    assert rows[0].variance == pytest.approx(
        rows[0].n_intervals * P.laplace_variance(scale)
    )


def test_dp_count_equals_count_plus_noise(spark, tables):
    li = tables["lineitem"]
    row = P.dp_count(li, epsilon=1.0, seed=13).collect()[0]
    exact = li.count()
    noise = P.count_noise(1.0, 13)
    assert row.noisy_rows == math.floor(exact + noise + 0.5)
    assert row.variance == pytest.approx(P.laplace_variance(1.0))
    # special buckets draw independent noise
    assert P.count_noise(1.0, 13, special=P.SPECIAL_NULL_COUNT) != noise


def test_dp_distinct_count_and_next_k(spark, tables):
    orders = tables["orders"]
    row = P.dp_distinct_count(orders, "o_custkey", epsilon=1.0, seed=17).collect()[0]
    exact = orders.select("o_custkey").distinct().count()
    noise = P.count_noise(1.0, 17, special=P.SPECIAL_DISTINCT_COUNT)
    assert row.noisy_distinct == math.floor(exact + noise + 0.5)

    page = P.dp_next_k(
        tables["lineitem"], ["l_returnflag", "l_linestatus", "l_quantity"],
        epsilon=1.0, k=5, seed=17,
    ).collect()
    assert len(page) == 5
    exact_rows = tables["lineitem"].count()
    expect = math.floor(exact_rows + P.count_noise(1.0, 17) + 0.5)
    assert all(r.noisy_rows_scanned == expect for r in page)


def test_dp_histogram_string_exact_plus_noise(spark):
    df = spark.createDataFrame(
        [("APPLE",)] * 3 + [("BANANA",)] * 5 + [("CHERRY",)] * 2 + [("AAA",)],
        "s string",
    )
    bs = ["APPLE", "BANANA", "CHERRY"]
    out = P.dp_histogram_string(df, "s", bs, epsilon=1.0, seed=21).collect()
    assert [r.left_boundary for r in out] == bs
    scale = P.noise_scale(1.0, 3)
    # 'AAA' < first boundary is OUT OF RANGE and excluded — the
    # reference drops it (StringColumnQuantization.outOfRange:74-80),
    # so APPLE stays at its exact count of 3
    for r, exact in zip(out, [3, 5, 2]):
        noise, n = P.interval_noise(r.bucket, r.bucket + 1, scale, 21)
        assert r.n_intervals == n
        assert r.noisy_count == math.floor(exact + noise + 0.5)


def test_laplace_noise_col_deterministic_linear_centered(spark):
    from pyspark.sql import functions as F

    df = spark.range(2000)
    a = [r.x for r in df.select(P.laplace_noise_col(1.0, 5, F.col("id")).alias("x")).collect()]
    b = [r.x for r in df.select(P.laplace_noise_col(1.0, 5, F.col("id")).alias("x")).collect()]
    assert a == b  # pure function of (key, seed)
    halved = [
        r.x for r in df.select(P.laplace_noise_col(0.5, 5, F.col("id")).alias("x")).collect()
    ]
    for x, h in zip(a, halved):  # same uniform, 2x scale -> exactly 2x
        assert h == pytest.approx(2 * x, rel=1e-12)
    # Laplace(1): mean ~ 0, |noise| median ~ ln(2)
    assert abs(sum(a) / len(a)) < 0.15
    med = sorted(map(abs, a))[len(a) // 2]
    assert 0.5 < med < 0.95


def test_laplace_noise_col_md5_prf_portable(spark):
    """The default call matches a from-scratch Python replica of the
    published recipe (13 hex digits -> 52-bit uniform -> inverse
    CDF) — the property the DuckDB oracle for dp_windowed_counts
    relies on cross-engine. The uniform is bit-exact everywhere; the
    final log() is only within-1-ulp across math libraries (JVM
    Math.log vs libm), which the INTEGER release absorbs in floor()
    — so the noise compares at 1e-12 rel, not bit-equal."""
    import hashlib

    from pyspark.sql import functions as F

    df = spark.range(500)
    got = [
        r.x
        for r in df.select(
            P.laplace_noise_col(1.0, 5, F.col("id")).alias("x")
        ).collect()
    ]
    for i, x in enumerate(got):
        u = int(hashlib.md5(f"{i}|5".encode()).hexdigest()[:13], 16) * 2.0**-52
        u = min(max(u, 2.0**-53), 1.0 - 2.0**-53)
        assert x == pytest.approx(P.laplace_from_uniform(1.0, u), rel=1e-12)


def _md5_draw(key: str, scale: float) -> float:
    """Hand-computed tree-node draw: first 13 hex digits of md5(key)
    as a 52-bit uniform, through the inverse-CDF Laplace."""
    import hashlib

    u = int(hashlib.md5(key.encode()).hexdigest()[:13], 16) * 2.0**-52
    return P.laplace_from_uniform(scale, u)


def test_default_releases_use_the_md5_recipe(spark, tables):
    """Called with library defaults — no recipe argument anywhere —
    dp_count and a private session's histogram release exactly the
    md5 tree-node key draws ('seed|ci|a:s'), the recipe the DuckDB
    oracles re-derive."""
    from pyspark.sql import functions as F

    from hillview_spark.api import PrivateTableView, TableView

    li = tables["lineitem"]
    row = P.dp_count(li, 1.0, seed=13).first()
    assert row.noisy_rows == math.floor(
        li.count() + _md5_draw("13|0|-1:0", 1.0) + 0.5
    )

    ps = P.PrivacySchema.from_json(
        """{"quantization": {"quantization": {
            "l_quantity": {"type": "DoubleColumnQuantization",
              "granularity": 1, "globalMin": 1, "globalMax": 51}}}}"""
    )
    got = {
        r.bucket: r.noisy_count
        for r in PrivateTableView(TableView(li), ps, seed=5)
        .histogram("l_quantity", buckets=10)
        .collect()
    }
    # 50 unit leaves, 10 buckets of 5 leaves, scale ceil(log20 50) = 2
    exact = {
        r.b: r.n
        for r in li.groupBy(
            ((F.col("l_quantity").cast("int") - 1) / 5).cast("int").alias("b")
        ).count().withColumnRenamed("count", "n").collect()
    }
    assert sorted(got) == list(range(10))
    for b in range(10):
        noise = 0.0
        for a, size in P.kadic_decomposition(5 * b, 5 * b + 5):
            noise += _md5_draw(f"5|0|{a}:{size}", 2.0)
        assert got[b] == math.floor(exact.get(b, 0) + noise + 0.5)


def test_dp_windowed_counts_is_noised_batch(spark, tables):
    from hillview_spark.streaming import events as ev

    plain = {
        (r.window_start, r.event_type): r.n_events
        for r in ev.windowed_counts(tables["events"], "hour").collect()
    }
    noisy = {
        (r.window_start, r.event_type): r.noisy_events
        for r in ev.dp_windowed_counts(tables["events"], "hour", 1.0, seed=3).collect()
    }
    assert plain.keys() == noisy.keys()
    deltas = [noisy[k] - plain[k] for k in plain]
    assert any(d != 0 for d in deltas)  # noise actually applied
    assert max(map(abs, deltas)) < 60  # Laplace(1) tail, sanity bound
    again = {
        (r.window_start, r.event_type): r.noisy_events
        for r in ev.dp_windowed_counts(tables["events"], "hour", 1.0, seed=3).collect()
    }
    assert noisy == again


def test_dp_transitions_noised_deterministic_sensitivity3(spark, tables):
    """r11: the DP transition release keys one Laplace(3/eps) draw
    per (from, to) cell — noise actually applied, deterministic for
    a fixed seed, per-cell deviation inside the scale-3 tail, and
    seed changes redraw."""
    from hillview_spark.streaming import events as ev

    plain = {
        (r.from_type, r.to_type): r.n_transitions
        for r in ev.transition_counts(tables["events"]).collect()
    }
    noisy = {
        (r.from_type, r.to_type): r.noisy_transitions
        for r in ev.dp_transition_counts(
            tables["events"], 1.0, seed=3
        ).collect()
    }
    assert plain.keys() == noisy.keys()
    deltas = [noisy[k] - plain[k] for k in plain]
    assert any(d != 0 for d in deltas)
    assert max(map(abs, deltas)) < 180  # Laplace(3) tail, sanity bound
    again = {
        (r.from_type, r.to_type): r.noisy_transitions
        for r in ev.dp_transition_counts(
            tables["events"], 1.0, seed=3
        ).collect()
    }
    assert noisy == again
    other = {
        (r.from_type, r.to_type): r.noisy_transitions
        for r in ev.dp_transition_counts(
            tables["events"], 1.0, seed=4
        ).collect()
    }
    assert other != noisy


def test_privacy_schema_parse_and_lookup():
    text = """{"epsilons": {"a+b": 0.25},
               "defaultEpsilons": {"1": 1.0, "2": 0.1},
               "defaultEpsilon": 0.05,
               "quantization": {"quantization": {
                 "a": {"type": "DoubleColumnQuantization",
                       "granularity": 1, "globalMin": 0, "globalMax": 50},
                 "s": {"type": "StringColumnQuantization",
                       "globalMax": "z", "leftBoundaries": ["A", "B", "C"]}}}}"""
    ps = P.PrivacySchema.from_json(text)
    assert ps.epsilon("b", "a") == 0.25  # sorted '+' key, PrivacySchema.java
    assert ps.epsilon("a") == 1.0
    assert ps.epsilon("a", "s") == 0.1
    assert ps.epsilon("a", "b", "s") == 0.05
    assert ps.quantization["a"].leaves == 50
    assert ps.quantization["s"].leaves == 3


def test_dp_histogram_from_schema(spark, tables):
    ps = P.PrivacySchema.from_json(
        """{"defaultEpsilons": {"1": 1.0},
            "quantization": {"quantization": {
              "l_quantity": {"type": "DoubleColumnQuantization",
                "granularity": 1, "globalMin": 1, "globalMax": 51}}}}"""
    )
    via_schema = P.dp_histogram_from_schema(
        tables["lineitem"], "l_quantity", ps, buckets=10, seed=4
    ).collect()
    direct = P.dp_histogram(
        tables["lineitem"], "l_quantity",
        lo=1, hi=51, granularity=1, epsilon=1.0, buckets=10, seed=4,
    ).collect()
    assert via_schema == direct


def test_private_view_quantizes_all_schema_columns(spark):
    ps = P.PrivacySchema.from_json(
        """{"defaultEpsilons": {"1": 1.0},
            "quantization": {"quantization": {
              "x": {"type": "DoubleColumnQuantization",
                    "granularity": 5, "globalMin": 0, "globalMax": 100},
              "s": {"type": "StringColumnQuantization",
                    "globalMax": "z", "leftBoundaries": ["A", "M"]}}}}"""
    )
    df = spark.createDataFrame(
        [(7.0, "APPLE", 1), (23.9, "NUT", 2), (99.0, "zebra", 3)],
        "x double, s string, keep int",
    )
    rows = {r.keep: (r.x, r.s) for r in P.private_view(df, ps).collect()}
    # x snaps to left edges of the 5-wide grid; s to its left
    # boundary — except 'zebra' which is STRICTLY ABOVE the curator's
    # globalMax 'z' and quantizes to MISSING (r10: the reference's
    # QuantizedColumn.isMissing:122-142 returns true for out-of-range
    # raw values — sketches see those rows as missing even though
    # roundDown alone would snap them to globalMax; we materialize
    # the quantized value as THE column, so out-of-range must become
    # NULL or the downstream DP histogram counts it in the last
    # bucket. A value EQUAL to globalMax would stay 'z', in range.)
    assert rows == {1: (5.0, "A"), 2: (20.0, "M"), 3: (95.0, None)}
    # columns without metadata pass through untouched (keep)
    assert set(rows) == {1, 2, 3}


def test_private_session_string_histogram_matches_schema_path(spark):
    """The session path (PrivateTableView.histogram_string over the
    quantized view) and the schema-direct path (dp_histogram_from_
    schema over raw data) must release IDENTICAL noisy counts — the
    r10 review found the session path dropped the curator's
    globalMax (above-ceiling rows counted into the last bucket) and
    private_view's >=max snap erased the above-max distinction."""
    from hillview_spark import api

    ps = P.PrivacySchema.from_json(
        """{"defaultEpsilons": {"1": 1.0},
            "quantization": {"quantization": {
              "s": {"type": "StringColumnQuantization",
                    "globalMax": "d", "leftBoundaries": ["a", "b", "c"]}}}}"""
    )
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("c",), ("d",), ("zebra",), ("zulu",)],
        "s string",
    )
    direct = sorted(
        (r.bucket, r.left_boundary, r.noisy_count)
        for r in P.dp_histogram_from_schema(df, "s", ps, seed=7).collect()
    )
    sess = sorted(
        (r.bucket, r.left_boundary, r.noisy_count)
        for r in api.PrivateTableView(
            api.TableView(df), ps, seed=7
        ).histogram_string("s").collect()
    )
    assert sess == direct
    # and the above-ceiling rows are genuinely excluded: the last
    # bucket's count reflects only 'c','c' and the in-range 'd'
    scale = P.noise_scale(1.0, 3)
    noise, _ = P.interval_noise(2, 3, scale, 7, 0)
    import math

    assert direct[2][2] == math.floor(3 + noise + 0.5)


def test_dp_quantiles_invert_noisy_cdf(spark, tables):
    li = tables["lineitem"]
    out = {
        r.prob: r.value
        for r in P.dp_quantiles(
            li, "l_quantity", lo=1.0, hi=51.0, granularity=1.0,
            epsilon=1.0, probs=[0.0, 0.5, 1.0], buckets=10, seed=5,
        ).collect()
    }
    assert set(out) == {0.0, 0.5, 1.0}
    assert out[0.0] == 1.0  # first bucket edge
    assert out[0.0] <= out[0.5] <= out[1.0]  # monotone in p
    # uniform-ish l_quantity: the noisy median lands mid-range
    assert 11.0 <= out[0.5] <= 36.0


def test_dp_quantiles_single_scan(spark, tables):
    """r11 review (class 7): the old shape consumed the cdf frame
    three times — total agg, hit join, fallback agg — so the plan
    embedded THREE scans of df unless ReuseExchange happened to
    dedupe them. The noisy total is now a window max over the
    O(buckets) cdf rows and the fallback edge is a driver-side
    literal (data-independent), so exactly one scan remains."""
    q = P.dp_quantiles(
        tables["lineitem"], "l_quantity", lo=1.0, hi=51.0,
        granularity=1.0, epsilon=1.0, probs=[0.25, 0.75], buckets=10,
        seed=5,
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_dp_next_k_nonfinite_key_quarantines(spark):
    """r10 review: NaN/±Inf in a double sort column landed in
    canonical_grid_col's raise_error branch — one degenerate row
    killed the whole page job. Non-finite now canonicalizes to the
    fixed 'nan'/'inf'/'-inf' PRF renderings (distinct from the NULL
    sentinel, so no missing-group collision); the loud raise stays
    for FINITE out-of-domain grid points."""
    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(i, 10.0) for i in range(5)]
        + [(90, nan), (91, inf), (92, -inf), (93, None)],
        "id long, v double",
    )
    rows = P.dp_next_k(df, ["v"], epsilon=1.0, k=10, seed=3).collect()
    assert len(rows) > 0  # no job death
    by_key = {
        (None if r.v is None else repr(r.v)): r.noisy_cnt for r in rows
    }
    # NaN group and NULL group draw INDEPENDENT noise (distinct PRF
    # renderings): with equal true counts (1 each), equal noisy
    # counts would mean a collision — draws are continuous, so
    # require the draws themselves to differ via the released sums
    assert "nan" in by_key and None in by_key
    # finite out-of-domain still fails loud
    bad = spark.createDataFrame([(1, 1e8)], "id long, v double")
    with pytest.raises(Exception, match="rescale the curator grid"):
        P.dp_next_k(bad, ["v"], epsilon=1.0, k=5, seed=3).collect()


def test_dp_heatmap_pair_index_injective(spark):
    """r10 review: the old (cix * 1_000_003 + ciy) & 0x7FFFFFFF fold
    collided — fold(0, 1_000_003) == fold(1, 0) — so two heatmaps
    with colliding index pairs drew bit-identical noise spines and
    their difference cancelled the noise exactly. The sentinel-node
    key is injective: the same grids with those index pairs must now
    draw different spines."""
    df = spark.createDataFrame(
        [(float(i % 10), float(i % 5) / 10.0) for i in range(100)],
        "x double, y double",
    )
    kw = dict(xlo=0.0, xhi=10.0, xgranularity=1.0,
              ylo=0.0, yhi=0.5, ygranularity=0.1,
              epsilon=1.0, xbuckets=5, ybuckets=5, seed=11)
    a = [r.noisy_count for r in P.dp_heatmap(
        df, "x", "y", column_index=0, column_index_y=1_000_003, **kw
    ).collect()]
    b = [r.noisy_count for r in P.dp_heatmap(
        df, "x", "y", column_index=1, column_index_y=0, **kw
    ).collect()]
    assert a != b


def test_dp_quantiles_every_prob_answered_on_degenerate_input(spark):
    """r10 review: a negative noisy total made p*t unsatisfiable for
    p < 1 and those probs silently vanished from the output. Every
    requested prob now gets a row (fallback: last bucket edge)."""
    empty = spark.createDataFrame([], "v double")
    for seed in range(6):  # some seeds draw a negative total
        out = P.dp_quantiles(
            empty, "v", 0.0, 10.0, 1.0, epsilon=1.0,
            probs=[0.25, 0.5, 0.75], buckets=5, seed=seed,
        ).collect()
        assert [r.prob for r in out] == [0.25, 0.5, 0.75], seed
        assert all(r.value is not None for r in out)


def test_dp_histogram_string_buckets_zero_raises(spark, tables):
    """r10 review: `buckets or leaves` silently absorbed an explicit
    buckets=0 into a full-resolution release; the numeric twin raises
    — now both do."""
    with pytest.raises(ValueError, match="positive"):
        P.dp_histogram_string(
            tables["lineitem"], "l_returnflag", ["A", "N", "R"],
            epsilon=1.0, buckets=0,
        ).collect()


def test_dp_prefix_counts_distributed_spine_identical(spark, tables, monkeypatch):
    """The DRIVER_SPINE_MAX fallback (spine too big to collect) must
    release bit-identical values to the memoized driver path: same
    PRF, same node decomposition, only the execution site moves."""
    from hillview_spark.streaming import events as ev

    base = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in ev.dp_prefix_counts(tables["events"], 1.0, seed=9).collect()
    }
    monkeypatch.setattr(ev, "DRIVER_SPINE_MAX", 0)
    dist = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in ev.dp_prefix_counts(tables["events"], 1.0, seed=9).collect()
    }
    assert dist == base and len(base) > 0


def test_dp_prefix_counts_binary_mechanism(spark, tables):
    """Batch continual counter: noisy prefix = exact running total +
    the k-adic prefix noise, per event type, at every present hour."""
    from hillview_spark.streaming import events as ev

    got = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in ev.dp_prefix_counts(tables["events"], 1.0, seed=9).collect()
    }
    counts = ev.windowed_counts(tables["events"], "hour").collect()
    per_type = {}
    for r in sorted(counts, key=lambda r: (r.event_type, r.window_start)):
        per_type.setdefault(r.event_type, []).append(r)
    scale = P.noise_scale(1.0, ev.CONTINUAL_HORIZON_LEAVES)
    checked = 0
    for etype, rows in per_type.items():
        cum = 0
        for r in rows:
            cum += r.n_events
            leaf = int(
                (r.window_start - __import__("datetime").datetime(1970, 1, 1))
                .total_seconds() // 3600
            ) + ev.CONTINUAL_LEAF_OFFSET
            noise, _ = P.interval_noise(
                0, leaf + 1, scale, 9, ev._type_index(etype)
            )
            assert got[(etype, r.window_start)] == math.floor(cum + noise + 0.5)
            checked += 1
    assert checked == len(got) > 0


def test_private_table_view_session(spark, tables):
    """DPWrapper analogue: sketches on the private session equal the
    standalone DP operators over the quantized view, with epsilons
    resolved from the curator schema."""
    from hillview_spark.api import PrivateTableView, TableView

    ps = P.PrivacySchema.from_json(
        """{"epsilons": {"l_discount+l_quantity": 0.5},
            "defaultEpsilons": {"1": 1.0},
            "quantization": {"quantization": {
              "l_quantity": {"type": "DoubleColumnQuantization",
                "granularity": 1, "globalMin": 1, "globalMax": 51},
              "l_discount": {"type": "DoubleColumnQuantization",
                "granularity": 0.01, "globalMin": 0, "globalMax": 0.11}}}}"""
    )
    li = TableView(tables["lineitem"])
    pv = PrivateTableView(li, ps, seed=7)
    got = pv.histogram("l_quantity", buckets=10).collect()
    want = P.dp_histogram(
        P.private_view(tables["lineitem"], ps), "l_quantity",
        lo=1, hi=51, granularity=1, epsilon=1.0, buckets=10, seed=7,
        column_index=pv._col_index["l_quantity"],
    ).collect()
    assert got == want
    # quantization-first: the noisy counts also match DP over the RAW
    # table, because snap-to-left-edge preserves leaf assignment
    raw = P.dp_histogram(
        tables["lineitem"], "l_quantity",
        lo=1, hi=51, granularity=1, epsilon=1.0, buckets=10, seed=7,
        column_index=pv._col_index["l_quantity"],
    ).collect()
    assert got == raw
    # 2-col epsilon resolves from the '+'-joined key (0.5, not 1.0)
    hm = pv.heatmap("l_quantity", "l_discount", 5, 4).collect()
    assert len(hm) == 20
    # filters derive private views; sketches still run
    assert pv.filter_range("l_quantity", 1, 26).count(epsilon=1.0).count() == 1


def test_private_view_non_dividing_granularity(spark):
    # granularity 3 over span 10: grid must be 0,3,6,9 (curator grid),
    # NOT multiples of 10/4=2.5
    ps = P.PrivacySchema.from_json(
        """{"quantization": {"quantization": {
            "x": {"type": "DoubleColumnQuantization",
                  "granularity": 3, "globalMin": 0, "globalMax": 10}}}}"""
    )
    df = spark.createDataFrame([(7.0,), (2.9,), (9.9,)], "x double")
    got = sorted(r.x for r in P.private_view(df, ps).collect())
    assert got == [0.0, 6.0, 9.0]


def test_dp_heatmap_pair_identity_enters_noise():
    # same node pair, different y-column index -> different draw;
    # (0, 0) folds to index 0 so existing oracles are unchanged
    a = P.node_noise(7, 0 * 1_000_003 + 1, 2.0, (0, 1), (0, 1))
    b = P.node_noise(7, 0 * 1_000_003 + 2, 2.0, (0, 1), (0, 1))
    assert a != b


def test_laplace_from_uniform_zero_guarded():
    assert math.isfinite(P.laplace_from_uniform(2.0, 0.0))
    assert math.isfinite(P.laplace_from_uniform(2.0, 1.0))


def test_private_view_filtered_noise_is_independent(spark, tables):
    """The subtraction attack: filtered and unfiltered histograms
    must NOT share per-bucket noise, or their difference releases
    the exact count of filter-matching rows (integer counts make the
    floor(c+n+0.5) fractional parts cancel perfectly)."""
    from hillview_spark.api import PrivateTableView, TableView

    ps = P.PrivacySchema.from_json(
        """{"defaultEpsilons": {"1": 1.0},
            "quantization": {"quantization": {
              "l_quantity": {"type": "DoubleColumnQuantization",
                "granularity": 1, "globalMin": 1, "globalMax": 51},
              "l_discount": {"type": "DoubleColumnQuantization",
                "granularity": 0.01, "globalMin": 0, "globalMax": 0.11}}}}"""
    )
    pv = PrivateTableView(TableView(tables["lineitem"]), ps, seed=7)
    fv = pv.filter_range("l_discount", 0.0, 0.05)
    base = {r.bucket: r.noisy_count for r in pv.histogram("l_quantity", 10).collect()}
    filt = {r.bucket: r.noisy_count for r in fv.histogram("l_quantity", 10).collect()}
    # recover what the attack would compute and compare to truth
    li = P.private_view(tables["lineitem"], ps)
    from pyspark.sql import functions as F

    def exact_counts(df):
        leaf = F.least(F.greatest(F.floor(
            (F.col("l_quantity").cast("double") - 1.0) / 1.0), F.lit(0)), F.lit(49))
        got = (df.where(F.col("l_quantity").isNotNull())
                 .select(leaf.alias("__leaf"))
                 .select(F.expr("CAST((__leaf * 10L) div 50L AS INT)").alias("b"))
                 .groupBy("b").count().collect())
        return {r.b: r["count"] for r in got}
    e_all = exact_counts(li)
    e_match = exact_counts(li.where(F.col("l_discount").between(0.0, 0.05)))
    diffs = [
        (base[b] - filt[b]) - (e_all.get(b, 0) - e_match.get(b, 0))
        for b in base
    ]
    # with shared noise every diff would be exactly 0
    assert any(d != 0 for d in diffs)
    # a second identical filter derives the SAME lineage -> same noise
    fv2 = pv.filter_range("l_discount", 0.0, 0.05)
    assert filt == {
        r.bucket: r.noisy_count
        for r in fv2.histogram("l_quantity", 10).collect()
    }


def test_dp_next_k_counts_are_noised(spark, tables):
    import hashlib

    from pyspark.sql import functions as F

    page = P.dp_next_k(
        tables["lineitem"], ["l_returnflag", "l_linestatus", "l_quantity"],
        epsilon=1.0, k=5, seed=17,
    ).collect()
    assert "cnt" not in page[0].asDict()
    exact = {
        (r.l_returnflag, r.l_linestatus, r.l_quantity): r.n
        for r in tables["lineitem"]
        .groupBy("l_returnflag", "l_linestatus", "l_quantity")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    perturbed = 0
    for r in page:
        key = f"{r.l_returnflag}|{r.l_linestatus}|{r.l_quantity}|0|17"
        u = int(hashlib.md5(key.encode()).hexdigest()[:13], 16) * 2.0**-52
        u = min(max(u, 2.0**-53), 1.0 - 2.0**-53)
        want = math.floor(
            exact[(r.l_returnflag, r.l_linestatus, r.l_quantity)]
            + P.laplace_from_uniform(1.0, u)
            + 0.5
        )
        assert r.noisy_cnt == want
        if r.noisy_cnt != exact[(r.l_returnflag, r.l_linestatus, r.l_quantity)]:
            perturbed += 1
    assert perturbed > 0  # epsilon is not decorative


def test_index_of_fallback_fits_int32(spark, tables):
    from hillview_spark.api import PrivateTableView, TableView

    ps = P.PrivacySchema.from_json(
        """{"quantization": {"quantization": {
            "l_quantity": {"type": "DoubleColumnQuantization",
              "granularity": 1, "globalMin": 1, "globalMax": 51}}}}"""
    )
    pv = PrivateTableView(TableView(tables["lineitem"]), ps, seed=1)
    for name in ("o_comment", "weird column", "x" * 200):
        idx = pv._index_of(name)
        assert 0 < idx < 2**31
    # the tree-node key accepts the fallback index
    P._uniform(1, pv._index_of("o_comment"), (0, 1))


def test_prf_field_escaping_cross_engine(spark):
    """The ADVICE-r5 fix, proven end-to-end on HOSTILE keys: cell
    values containing the '|' delimiter, backslashes, and NULL must
    (a) draw distinct noise per distinct cell — no key forgery
    ('a|b', 'c') vs ('a', 'b|c') — and (b) still match a DuckDB
    replica applying the twinned REPLACE/COALESCE recipe."""
    import duckdb

    from pyspark.sql import functions as F

    rows = [
        ("a|b", "c"), ("a", "b|c"),        # forgery pair under naive concat
        ("x\\", "y"), ("x", "\\y"),        # backslash forgery pair
        (None, "z"), ("\\N", "z"),          # NULL vs literal sentinel text
        ("plain", "val"),
    ]
    df = spark.createDataFrame(rows, "k1 string, k2 string")
    got = [
        r.x
        for r in df.select(
            P.laplace_noise_col(1.0, 5, F.col("k1"), F.col("k2")).alias("x")
        ).collect()
    ]
    # (a) all seven cells draw distinct noise
    assert len(set(got)) == len(rows)

    # (b) DuckDB replays the draw through the twinned escaping
    con = duckdb.connect()
    esc = (
        "COALESCE(REPLACE(REPLACE({c}, chr(92), chr(92)||chr(92)),"
        " '|', chr(92)||'|'), chr(92)||'N')"
    )
    for (k1, k2), want in zip(rows, got):
        q = f"""
        SELECT CASE WHEN 0.5 - u < 0
                    THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                    ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END AS x
        FROM (SELECT LEAST(GREATEST(
                 CAST(('0x' || substr(md5(
                     {esc.format(c='$k1')} || '|' ||
                     {esc.format(c='$k2')} || '|5'), 1, 13)) AS BIGINT)
                 * POWER(CAST(2.0 AS DOUBLE), -52),
                 POWER(CAST(2.0 AS DOUBLE), -53)),
                 1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u)
        """
        (duck,) = con.execute(q, {"k1": k1, "k2": k2}).fetchone()
        assert duck == pytest.approx(want, rel=1e-12), (k1, k2)


def test_bpe_encode_non_long_id_types(spark):
    """ADVICE-r5 fix: the mapInPandas schema reads the id type from
    the input instead of hardcoding long — string ids must work."""
    from hillview_spark.functions import bpe

    docs = spark.createDataFrame(
        [("d1", "low lower lowest"), ("d2", "low low")],
        "doc_id string, text string",
    )
    merges = bpe.bpe_train(docs, num_merges=5)
    out = {r.doc_id: r.n_bpe_tokens for r in bpe.bpe_encode(docs, merges).collect()}
    assert set(out) == {"d1", "d2"} and all(v > 0 for v in out.values())


def test_dp_windowed_counts_null_ts_and_type_match_oracle(spark):
    """ADVICE-r5 fix #2 end-to-end: NULL event times are dropped
    (matching the streaming twin's watermark behavior) and a NULL
    event_type group draws well-defined sentinel-keyed noise — and
    the gate's actual DuckDB oracle SQL agrees on this crafted data."""
    import datetime as dt

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from hillview_spark.streaming import events as ev

    base = dt.datetime(2024, 6, 1, 10, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=5), 1, None, 1.0),   # NULL type
        (3, None, 1, "click", 1.0),                          # NULL ts
        (4, base + dt.timedelta(hours=1), 2, "view", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    )
    got = {
        (r.event_type, r.window_start): r.noisy_events
        for r in ev.dp_windowed_counts(df, "hour", 1.0, seed=7).collect()
    }
    # NULL ts contributes no cell; NULL type is its own released cell
    assert len(got) == 3 and (None, base) in got

    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        ),
    )
    oracle = {
        (etype, ws): v
        for ws, etype, v in con.sql(
            "SELECT window_start, event_type, noisy_events FROM ("
            + entry_mod.oracle_sql()["dp_windowed_counts"]
            + ")"
        ).fetchall()
    }
    assert got == oracle


def test_md5str_uniform_recipe_is_pinned():
    """The tree-node key format ('seed|ci|a:s' for 1-D nodes,
    'seed|ci|xa:xs|ya:ys' for heatmap node pairs) is what every
    SQL-re-derived oracle rebuilds — pin it against a hand-computed
    md5 so a format drift in _uniform breaks HERE, not as a cryptic
    gate hash mismatch."""
    import hashlib

    from hillview_spark.operators import privacy as priv

    for nodes in [((40, 5),), ((0, 20), (3, 1))]:
        key = f"7|3|" + "|".join(f"{a}:{s}" for a, s in nodes)
        want = int(hashlib.md5(key.encode()).hexdigest()[:13], 16) * 2.0**-52
        got = priv._uniform(7, 3, *nodes)
        assert got == want
    # distinct column indexes → distinct trees (the gate relies on
    # this to keep c_mktsegment's draws off l_quantity's tree)
    assert priv._uniform(7, 0, (0, 1)) != priv._uniform(7, 1, (0, 1))


def test_dp_oracles_have_no_noise_literals():
    """VERDICT-r6 directive #1 regression guard: every binary-
    mechanism gate oracle re-derives its Laplace noise inside DuckDB
    SQL (md5 PRF via _kadic_spine_sql/_count_noise_sql). The entry
    module must therefore never call the Python noise constructors —
    a reintroduced noise literal would make the gate re-trust the
    code it checks."""
    import inspect

    import __spark_entry__ as entry_mod

    src = inspect.getsource(entry_mod)
    for fn in ("interval_noise(", "node_noise(", "count_noise("):
        assert fn not in src, f"oracle builders must not call {fn}"


def test_dp_prefix_counts_null_type_matches_oracle(spark):
    """ADVICE-r6 fix: the batch continual counter's spine join must be
    NULL-safe — a NULL event_type group is keyed by the spine (md5('')
    type index) and must survive the equi-join, as the streaming twin
    (groupBy keeps NULL keys) and the gate's DuckDB oracle (IS NOT
    DISTINCT FROM) both release it."""
    import datetime as dt

    import duckdb
    import pandas as pd

    import __spark_entry__ as entry_mod
    from hillview_spark.streaming import events as ev

    base = dt.datetime(2024, 6, 1, 10, 0, 0)
    rows = [
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=5), 1, None, 1.0),   # NULL type
        (3, base + dt.timedelta(hours=1), 1, None, 1.0),     # 2nd hour
        (4, None, 1, "click", 1.0),                          # NULL ts
        (5, base + dt.timedelta(hours=1), 2, "view", 1.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    )
    got = {
        (r.event_type, r.window_start): r.noisy_prefix
        for r in ev.dp_prefix_counts(df, 1.0, seed=7).collect()
    }
    # click@h0, NULL@h0, NULL@h1 (prefix 2), view@h1 — NULL ts drops
    assert len(got) == 4 and (None, base) in got

    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value"]
        ),
    )
    oracle = {
        (etype, ws): v
        for etype, ws, v in con.sql(
            "SELECT event_type, window_start, noisy_prefix FROM ("
            + entry_mod.oracle_sql()["dp_prefix_counts"]
            + ")"
        ).fetchall()
    }
    assert got == oracle


def test_windowed_mechanisms_domain_separated(spark):
    """ADVICE-r6 fix: dp_windowed_counts and dp_windowed_histogram
    share (seed, epoch-secs) key prefixes; an event_type stringifying
    like a bucket index ('0'..'9') must still draw INDEPENDENT noise
    in the two releases — the 'wcounts'/'whist' domain tags keep the
    PRF keys disjoint, so subtracting releases cannot cancel noise."""
    import datetime as dt

    from hillview_spark.streaming import events as ev

    base = dt.datetime(2024, 6, 1, 10, 0, 0)
    # event_type '3' collides with value bucket 3 (value=35 in [0,100))
    n = 400
    rows = [
        (i, base + dt.timedelta(hours=i % 3), 1, "3", 35.0)
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double"
    )
    counts = {
        r.window_start: r.noisy_events
        for r in ev.dp_windowed_counts(df, "hour", 1.0, seed=7).collect()
    }
    hist = {
        r.window_start: r.noisy_events
        for r in ev.dp_windowed_histogram(
            df, "hour", "value", lo=0.0, hi=100.0, buckets=10,
            epsilon=1.0, seed=7,
        ).collect()
    }
    # same exact cell counts on both sides; identical noise would make
    # every release pair equal — independent draws make at least one
    # window differ (P[all 3 collide] ~ 0 for continuous Laplace)
    assert set(counts) == set(hist)
    assert any(counts[w] != hist[w] for w in counts)


def test_dp_histogram_from_schema_routes_string_grids(spark, tables):
    """The DPWrapper schema router handles BOTH quantization kinds:
    a StringColumnQuantization column routes to dp_histogram_string
    with the schema's boundaries and budget (bit-equal to calling it
    directly), and a string CDF is rejected with a clear error (the
    reference's CDF view is numeric-only)."""
    import pytest as _pytest

    ps = P.PrivacySchema.from_json(
        """{"defaultEpsilons": {"1": 1.0},
            "quantization": {"quantization": {
              "c_mktsegment": {"type": "StringColumnQuantization",
                "globalMax": "Z",
                "leftBoundaries": ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                   "HOUSEHOLD", "MACHINERY"]}}}}"""
    )
    via_schema = P.dp_histogram_from_schema(
        tables["customer"], "c_mktsegment", ps, seed=4
    ).collect()
    direct = P.dp_histogram_string(
        tables["customer"], "c_mktsegment",
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
        epsilon=1.0, seed=4,
    ).collect()
    assert via_schema == direct
    assert len(via_schema) > 0
    with _pytest.raises(ValueError, match="numeric grids only"):
        P.dp_histogram_from_schema(
            tables["customer"], "c_mktsegment", ps, seed=4, cdf=True
        )


def test_dp_next_k_double_key_rendering_contract(spark):
    """r9 probe: the portable PRF hashes each key's STRING rendering,
    and Spark/Java vs DuckDB shortest-roundtrip formatters disagree
    outside [1e-3, 1e7) ('1.0E-7' vs '1e-07') and on '-0.0' — so
    dp_next_k folds -0.0 to 0.0 and fails LOUDLY on a double grid
    point in the scientific-notation range instead of silently
    drawing engine-dependent noise (the salted-key loud-contract
    class)."""
    ok = spark.createDataFrame(
        [("N", 10.0), ("N", 0.001), ("A", 9999999.0)],
        "k string, v double",
    )
    rows = P.dp_next_k(ok, ["k", "v"], epsilon=1.0, k=5, seed=7).collect()
    assert len(rows) == 3  # boundary grid points render identically

    import pyspark.errors as pe

    bad = spark.createDataFrame([("N", 1e-7)], "k string, v double")
    with pytest.raises(pe.PySparkException, match="renders differently"):
        P.dp_next_k(bad, ["k", "v"], epsilon=1.0, k=5, seed=7).collect()
    big = spark.createDataFrame([("N", 1e7)], "k string, v double")
    with pytest.raises(pe.PySparkException, match="renders differently"):
        P.dp_next_k(big, ["k", "v"], epsilon=1.0, k=5, seed=7).collect()
    # -0.0 and 0.0 are the SAME grid point: one group, one draw
    z = spark.createDataFrame(
        [("N", -0.0), ("N", 0.0)], "k string, v double"
    )
    zr = P.dp_next_k(z, ["k", "v"], epsilon=1.0, k=5, seed=7).collect()
    assert len(zr) == 1 and zr[0].v == 0.0


def test_schema_paths_apply_string_global_max(spark):
    """r9 review: the curator's string globalMax was parsed but never
    forwarded on the schema-driven paths — a value above the declared
    ceiling counted into the last bucket (dp_histogram_from_schema)
    and private_view snapped it to the top boundary instead of the
    ceiling. Both paths now honor the declared out-of-range rule
    (StringColumnQuantization.outOfRange)."""
    from hillview_spark.operators import privacy

    schema = privacy.PrivacySchema.from_json(
        """{"quantization": {"quantization": {"seg":
            {"type": "StringColumnQuantization", "globalMax": "t",
             "leftBoundaries": ["a", "m"]}}},
            "epsilons": {"seg": 1.0}, "defaultEpsilons": {},
            "defaultEpsilon": 1.0}"""
    )
    df = spark.createDataFrame(
        [(1, "apple"), (2, "mango"), (3, "zzz")], "id long, seg string"
    )
    # private_view: 'zzz' > globalMax 't' is OUT OF RANGE and
    # quantizes to MISSING (r10: QuantizedColumn.isMissing:122-142 —
    # sketches treat out-of-range raw values as missing; the r9 snap
    # to the ceiling let the session path count it in the last
    # bucket), never to boundary 'm' or the ceiling
    pv = {r.id: r.seg for r in privacy.private_view(df, schema).collect()}
    assert pv[1] == "a" and pv[2] == "m" and pv[3] is None
    # dp_histogram_from_schema: the 'zzz' row is EXCLUDED from the
    # released counts — with it wrongly included, bucket 'm' would
    # count 2; the exact released value is count + seeded noise, so
    # compare against the same release over the explicitly-filtered
    # frame
    got = {
        r.left_boundary: r.noisy_count
        for r in privacy.dp_histogram_from_schema(
            df, "seg", schema, buckets=2, seed=3
        ).collect()
    }
    want = {
        r.left_boundary: r.noisy_count
        for r in privacy.dp_histogram_string(
            df, "seg", ["a", "m"], epsilon=1.0, buckets=2, seed=3,
            global_max="t",
        ).collect()
    }
    assert got == want
    leaked = {
        r.left_boundary: r.noisy_count
        for r in privacy.dp_histogram_string(
            df, "seg", ["a", "m"], epsilon=1.0, buckets=2, seed=3,
        ).collect()
    }
    assert got != leaked  # the ceiling actually changed the release


def test_dp_sum_clips_and_noises(spark):
    """r12 (floor-release r13): bounded sum — NULL/Inf contribute
    ZERO (not dropped-row: absence must not shift the release),
    clipping actually clamps, the draw is the SPECIAL_SUM bucket at
    sensitivity/epsilon, the release is the floor(x+0.5) integer
    discipline, and the variance is the analytic Laplace variance."""
    import math as _math

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 2.0), (2, 100.0), (3, -50.0), (4, None),
         (5, float("inf")), (6, float("nan"))],
        "id long, v double",
    )
    row = P.dp_sum(df, "v", lo=0.0, hi=10.0, epsilon=2.0, seed=3).first()
    noise = P.node_noise(3, 0, 10.0 / 2.0, (P.SPECIAL_SUM, 0))
    # clip: 2 + 10 + 0; NULL/Inf/NaN -> 0
    assert row.noisy_sum == _math.floor(12.0 + noise + 0.5)
    assert row.variance == 2.0 * 5.0 * 5.0
    # negative lo: clamp keeps sensitivity at max(|lo|, |hi|)
    row2 = P.dp_sum(df, "v", lo=-5.0, hi=10.0, epsilon=1.0, seed=3).first()
    noise2 = P.node_noise(3, 0, 10.0, (P.SPECIAL_SUM, 0))
    assert row2.noisy_sum == _math.floor((2.0 + 10.0 - 5.0) + noise2 + 0.5)
    with pytest.raises(ValueError, match="hi > lo"):
        P.dp_sum(df, "v", lo=1.0, hi=1.0, epsilon=1.0)
    # r13 (r12-verdict ADVICE): epsilon must be validated — 0 died
    # with ZeroDivisionError, negative silently flipped the noise
    for bad in (0.0, -1.0):
        with pytest.raises(ValueError, match="epsilon"):
            P.dp_sum(df, "v", lo=0.0, hi=10.0, epsilon=bad)
        with pytest.raises(ValueError, match="epsilon"):
            P.dp_mean(df, "v", lo=0.0, hi=10.0, epsilon=bad)
    # empty frame: sum releases pure (rounded) noise, not NULL
    empty = df.where(F.col("id") < 0)
    assert P.dp_sum(empty, "v", lo=0.0, hi=10.0, epsilon=2.0,
                    seed=3).first().noisy_sum == _math.floor(noise + 0.5)
    assert not _math.isnan(noise)


def test_dp_mean_ratio_and_guard(spark):
    """r12 (own-bucket + floor release r13): mean = (eps/2 clipped
    sum) / (eps/2 count), each from dp_mean's OWN PRF bucket; a
    non-positive noisy count releases NULL, never a division
    blow-up."""
    import math as _math

    df = spark.createDataFrame(
        [(1, 4.0), (2, 8.0), (3, None)], "id long, v double"
    )
    row = P.dp_mean(df, "v", lo=0.0, hi=10.0, epsilon=2.0, seed=3).first()
    sum_noise = P.node_noise(3, 0, 10.0 / 1.0, (P.SPECIAL_MEAN_SUM, 0))
    cnt_noise = P.count_noise(1.0, 3, 0, special=P.SPECIAL_MEAN_COUNT)
    assert row.noisy_sum == _math.floor(12.0 + sum_noise + 0.5)
    assert row.noisy_count == _math.floor(3.0 + cnt_noise + 0.5)
    assert row.noisy_mean == row.noisy_sum / row.noisy_count
    # guard: drive the noisy count <= 0 via an empty frame and a
    # seed whose count draw is well below -0.5 (search a few seeds)
    from pyspark.sql import functions as F

    empty = df.where(F.col("id") < 0)
    seed = next(
        s for s in range(50)
        if P.count_noise(1.0, s, 0, special=P.SPECIAL_MEAN_COUNT) <= -1.0
    )
    g = P.dp_mean(empty, "v", lo=0.0, hi=10.0, epsilon=2.0,
                  seed=seed).first()
    assert g.noisy_count <= 0 and g.noisy_mean is None


def test_dp_mean_buckets_disjoint_from_dp_sum_and_dp_count(spark):
    """r13 regression (r12-verdict ADVICE, medium): dp_mean's
    components must NOT share PRF buckets with dp_sum/dp_count.
    With the shared SPECIAL_SUM bucket, Laplace linearity in scale
    (noise = scale * f(uniform), same uniform) made
    mean_sum_noise == 2 * sum_noise EXACTLY at epsilon_mean ==
    epsilon_sum, so (mean's sum component - 2 * dp_sum release)
    was the exact clipped sum — a 0-DP pair. Pin the algebraic
    independence at the draw level and end-to-end."""
    # draw level: the old cancellation identity must no longer hold
    s_noise = P.node_noise(7, 0, 10.0, (P.SPECIAL_SUM, 0))
    m_noise = P.node_noise(7, 0, 2 * 10.0, (P.SPECIAL_MEAN_SUM, 0))
    assert m_noise != 2.0 * s_noise
    c_noise = P.count_noise(1.0, 7, 0)
    mc_noise = P.count_noise(0.5, 7, 0, special=P.SPECIAL_MEAN_COUNT)
    assert mc_noise != 2.0 * c_noise
    # uniforms differ, not just scales: same scale, different bucket
    assert P.node_noise(7, 0, 1.0, (P.SPECIAL_SUM, 0)) != P.node_noise(
        7, 0, 1.0, (P.SPECIAL_MEAN_SUM, 0)
    )
    assert P.node_noise(7, 0, 1.0, (P.SPECIAL_MEAN_COUNT, 0)) != P.node_noise(
        7, 0, 1.0, (P.SPECIAL_TOTAL_COUNT, 0)
    )
    # bucket constants stay distinct from every other special bucket
    specials = [
        P.SPECIAL_TOTAL_COUNT, P.SPECIAL_NULL_COUNT,
        P.SPECIAL_DISTINCT_COUNT, P.SPECIAL_SUM,
        P.SPECIAL_MEAN_SUM, P.SPECIAL_MEAN_COUNT,
    ]
    assert len(set(specials)) == len(specials)
    assert all(b < 0 for b in specials)


def test_dp_histogram_unknown_domain_threshold(spark):
    """r13: the stability histogram — noisy per-value counts over an
    UNKNOWN domain, released only above tau = 1 + 2*ln(2/delta)/eps
    + 0.5. The full release (membership AND values) re-derives in
    Python from the md5 'udom' recipe; a count-1 value never clears
    a tau this size, NULLs are not a domain element, and bad
    epsilon/delta raise."""
    import hashlib
    import math

    rows = (
        [(i, "whale") for i in range(40)]
        + [(100 + i, "dolphin") for i in range(25)]
        + [(200, "minnow")]          # count 1: must stay hidden
        + [(201, None)]              # NULL: excluded outright
    )
    df = spark.createDataFrame(rows, "id long, v string")
    eps, delta, seed = 1.0, 1e-6, 7
    tau = 1.0 + 2.0 * math.log(2.0 / delta) / eps + 0.5  # ~30.5

    def noise(value):
        u = int(
            hashlib.md5(f"{value}|udom|{seed}".encode()).hexdigest()[:13],
            16,
        ) * 2.0**-52
        u = min(max(u, 2.0**-53), 1.0 - 2.0**-53)
        r = 0.5 - u
        if r < 0:
            return -math.log(1.0 - 2.0 * (-r))
        return math.log(1.0 - 2.0 * r)

    want = {}
    for value, cnt in (("whale", 40), ("dolphin", 25), ("minnow", 1)):
        rel = math.floor(cnt + noise(value) + 0.5)
        if rel > tau:
            want[value] = rel
    got = {
        r.value: r.noisy_count
        for r in P.dp_histogram_unknown_domain(
            df, "v", epsilon=eps, delta=delta, seed=seed
        ).collect()
    }
    assert got == want
    assert "minnow" not in got and None not in got
    assert "whale" in got  # 40 >> tau+1: the release is non-trivial
    for bad in (0.0, -1.0):
        with pytest.raises(ValueError, match="epsilon"):
            P.dp_histogram_unknown_domain(df, "v", bad, 1e-6)
    for bad_d in (0.0, 1.0, -0.5):
        with pytest.raises(ValueError, match="delta"):
            P.dp_histogram_unknown_domain(df, "v", 1.0, bad_d)


def test_dp_unknown_domain_delta_calibration(spark):
    """r14 (VERDICT-r13 directive #7): MEASURE the stability
    histogram's delta claim instead of only deriving it — over many
    seeds, a value backed by ONE record must clear tau in <= delta
    of trials. delta=0.05 is large enough to test; the derivation
    says the true rate is delta^2/8 ~ 3.1e-4 (P[Lap(1/eps) >
    2 ln(2/delta)/eps] = 0.5 (delta/2)^2), so the bound should hold
    with wide margin. The trial loop runs the PYTHON twin of the
    'udom' md5 recipe (deterministic per seed — no flake); one
    Spark run at the first releasing seed (or seed 0 if none) pins
    the twin to the real mechanism so the statistical claim is
    about the shipped code path, not a parallel reimplementation."""
    import hashlib
    import math

    eps, delta = 1.0, 0.05
    tau = 1.0 + 2.0 * math.log(2.0 / delta) / eps + 0.5

    def released(seed, value="lone", cnt=1):
        u = int(
            hashlib.md5(f"{value}|udom|{seed}".encode()).hexdigest()[:13],
            16,
        ) * 2.0**-52
        u = min(max(u, 2.0**-53), 1.0 - 2.0**-53)
        r = 0.5 - u
        noise = (
            -math.log(1.0 - 2.0 * (-r)) if r < 0
            else math.log(1.0 - 2.0 * r)
        ) / eps
        return math.floor(cnt + noise + 0.5) > tau

    n_seeds = 4000
    hits = [s for s in range(n_seeds) if released(s)]
    assert len(hits) <= delta * n_seeds, (
        f"count-1 value released in {len(hits)}/{n_seeds} trials — "
        f"violates the delta={delta} calibration"
    )
    # non-vacuous check the other way: the derived rate delta^2/8
    # says hits should be RARE but the mechanism must not be
    # degenerate — a count far above tau releases at every seed
    df = spark.createDataFrame(
        [(i, "lone") for i in range(1)] + [(100 + i, "big") for i in range(50)],
        "id long, v string",
    )
    probe_seed = hits[0] if hits else 0
    got = {
        r.value
        for r in P.dp_histogram_unknown_domain(
            df, "v", epsilon=eps, delta=delta, seed=probe_seed
        ).collect()
    }
    assert ("lone" in got) == released(probe_seed)  # twin == mechanism
    assert "big" in got  # 50 >> tau+1


@pytest.mark.parametrize("tag", ["wtrend", "uwtrend"])
def test_dp_windowed_trending_delta_calibration(spark, tag):
    """r15 (VERDICT-r14 directive #6): the same 4000-seed delta
    calibration as test_dp_unknown_domain_delta_calibration, for the
    CONTINUAL unknown-domain releases — the 'wtrend' mechanism (and
    its contribution-bounded 'uwtrend' sibling) shares the
    stability-histogram construction but draws from a window-keyed
    PRF input (epoch-seconds prefix) under its own tag, so the udom
    calibration does not automatically cover either. Trial loop =
    the Python twin of the shipped md5 recipe (deterministic, no
    flake); one Spark run at the first releasing seed (or seed 0)
    pins the twin to the real code path — dp_windowed_trending for
    'wtrend', dp_windowed_trending_user_level (whose k=1 cap keeps
    the count-1 cell a count-1 cell) for 'uwtrend'."""
    import datetime as dt
    import hashlib
    import math

    from hillview_spark.streaming import events as ev

    eps, delta = 1.0, 0.05
    tau = 1.0 + 2.0 * math.log(2.0 / delta) / eps + 0.5
    day = dt.datetime(2024, 6, 1)
    secs = int(day.replace(tzinfo=dt.timezone.utc).timestamp())

    def released(seed, value="lone", cnt=1):
        u = int(
            hashlib.md5(
                f"{secs}|{value}|{tag}|{seed}".encode()
            ).hexdigest()[:13],
            16,
        ) * 2.0**-52
        u = min(max(u, 2.0**-53), 1.0 - 2.0**-53)
        r = 0.5 - u
        noise = (
            -math.log(1.0 - 2.0 * (-r)) if r < 0
            else math.log(1.0 - 2.0 * r)
        ) / eps
        return math.floor(cnt + noise + 0.5) > tau

    n_seeds = 4000
    hits = [s for s in range(n_seeds) if released(s)]
    assert len(hits) <= delta * n_seeds, (
        f"count-1 cell released in {len(hits)}/{n_seeds} trials — "
        f"violates the delta={delta} calibration for {tag!r}"
    )
    # pin the twin to the shipped mechanism at a decisive seed: the
    # 'big' value is 50 distinct-user singles so the k=1 cap of the
    # user-level path leaves both cells' counts unchanged
    rows = [(0, day + dt.timedelta(hours=1), 1, "lone", 1.0)] + [
        (10 + i, day + dt.timedelta(minutes=i), 100 + i, "big", 1.0)
        for i in range(50)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    probe_seed = hits[0] if hits else 0
    if tag == "wtrend":
        rel = ev.dp_windowed_trending(
            df, unit="day", col="event_type", epsilon=eps,
            delta=delta, seed=probe_seed,
        )
    else:
        rel = ev.dp_windowed_trending_user_level(
            df, unit="day", col="event_type", epsilon=eps,
            delta=delta, seed=probe_seed, k=1,
        )
    got = {r.value for r in rel.collect()}
    assert ("lone" in got) == released(probe_seed)  # twin == mechanism
    assert "big" in got  # 50 >> tau+1: non-degenerate


def test_epsilon_guard_covers_the_whole_dp_family(spark):
    """r13 (ADVICE follow-through): every public batch DP entry point
    rejects epsilon <= 0 up front — previously epsilon=0 died with
    ZeroDivisionError mid-plan and a negative epsilon silently
    flipped the noise sign."""
    df = spark.createDataFrame([(1.0, "a")], "x double, s string")
    calls = [
        lambda e: P.dp_histogram(df, "x", lo=0.0, hi=10.0,
                                 granularity=1.0, epsilon=e, buckets=5),
        lambda e: P.dp_quantiles(df, "x", lo=0.0, hi=10.0,
                                 granularity=1.0, epsilon=e,
                                 probs=[0.5], buckets=5),
        lambda e: P.dp_heatmap(df, "x", "x", xlo=0.0, xhi=10.0,
                               xgranularity=1.0, ylo=0.0, yhi=10.0,
                               ygranularity=1.0, epsilon=e,
                               xbuckets=2, ybuckets=2),
        lambda e: P.dp_count(df, epsilon=e),
        lambda e: P.dp_distinct_count(df, "s", epsilon=e),
        lambda e: P.dp_next_k(df, ["s"], epsilon=e),
        lambda e: P.dp_histogram_string(df, "s", ["a"], epsilon=e),
        lambda e: P.dp_histogram_unknown_domain(df, "s", e, 1e-6),
        lambda e: P.dp_sum(df, "x", lo=0.0, hi=10.0, epsilon=e),
        lambda e: P.dp_mean(df, "x", lo=0.0, hi=10.0, epsilon=e),
    ]
    for call in calls:
        for bad in (0.0, -1.0):
            with pytest.raises(ValueError, match="epsilon"):
                call(bad)


_EVENT_RELEASES = {
    "dp_windowed_counts": lambda ev, df, e: ev.dp_windowed_counts(df, epsilon=e),
    "dp_windowed_sum": lambda ev, df, e: ev.dp_windowed_sum(df, epsilon=e),
    "dp_windowed_mean": lambda ev, df, e: ev.dp_windowed_mean(df, epsilon=e),
    "dp_windowed_distinct": lambda ev, df, e: ev.dp_windowed_distinct(df, epsilon=e),
    "dp_windowed_histogram": lambda ev, df, e: ev.dp_windowed_histogram(df, epsilon=e),
    "dp_windowed_counts_user_level":
        lambda ev, df, e: ev.dp_windowed_counts_user_level(df, epsilon=e),
    "dp_transition_counts": lambda ev, df, e: ev.dp_transition_counts(df, epsilon=e),
    "dp_prefix_counts": lambda ev, df, e: ev.dp_prefix_counts(df, epsilon=e),
}
_EVENT_STREAM_RELEASES = [
    "stream_dp_windowed_counts", "stream_dp_windowed_sum",
    "stream_dp_windowed_mean", "stream_dp_windowed_distinct",
    "stream_dp_windowed_histogram", "stream_dp_prefix_counts",
]


@pytest.mark.parametrize("epsilon", [0.0, -1.0])
@pytest.mark.parametrize(
    "release", sorted(_EVENT_RELEASES) + _EVENT_STREAM_RELEASES
)
def test_event_dp_releases_reject_nonpositive_epsilon(
    spark, tmp_path, release, epsilon
):
    """Every windowed / continual release and its streaming twin
    rejects epsilon <= 0 while building the plan: epsilon = 0 used to
    die with ZeroDivisionError and a negative epsilon released rows
    under a flipped noise sign."""
    import datetime as dt

    from hillview_spark.streaming import events as ev

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 6, 1, 10), 1, "click", 1.0)],
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double",
    )
    with pytest.raises(ValueError, match="epsilon"):
        if release in _EVENT_RELEASES:
            _EVENT_RELEASES[release](ev, df, epsilon)
        else:
            getattr(ev, release)(
                spark, str(tmp_path), df.schema, epsilon=epsilon
            )
