"""Unit tests for the Hillview-surface operators (SURVEY.md §2.1/2.2),
mirroring the reference's sketch tests (platform/src/test/java/org/
hillview/HistogramTest.java etc.) on small known data."""

import pytest
from pyspark.sql import functions as F

from hillview_spark.operators import (
    correlation,
    filters,
    heavy_hitters,
    histogram,
    maps,
    sampling,
    spreadsheet,
    stats,
)


def test_histogram1d_dense_and_total(spark, tables):
    li = tables["lineitem"]
    h = histogram.histogram1d(li, "l_extendedprice", 40).collect()
    assert len(h) == 40  # dense spine including empty buckets
    assert sum(r.cnt for r in h) == li.count()
    assert [r.bucket for r in sorted(h, key=lambda r: r.bucket)] == list(range(40))


def test_histogram1d_bucket_placement(spark):
    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "x double")
    h = {r.bucket: r.cnt for r in histogram.histogram1d(df, "x", 10).collect()}
    assert h[0] == 1 and h[5] == 1 and h[9] == 1  # max lands in last bucket


def test_histogram1d_constant_column(spark):
    df = spark.createDataFrame([(7.0,)] * 5, "x double")
    h = {r.bucket: r.cnt for r in histogram.histogram1d(df, "x", 10).collect()}
    assert h[0] == 5 and sum(h.values()) == 5


def test_progressive_histogram_refines_to_exact(spark, tables):
    """The PartialResult analogue: the terminal stage is bit-equal to
    histogram1d; earlier stages are sample-sized and share bucket
    boundaries (dense 40-bucket spine at every stage)."""
    li = tables["lineitem"]
    stages = list(histogram.progressive_histogram(
        li, "l_extendedprice", 40, stages=(0.05, 0.3, 1.0)
    ))
    assert len(stages) == 3
    collected = [s.collect() for s in stages]
    total = li.count()
    for rows in collected:
        assert len(rows) == 40  # shared dense spine
    # sample stages grow toward the full count
    c0 = sum(r.cnt for r in collected[0])
    c1 = sum(r.cnt for r in collected[1])
    c2 = sum(r.cnt for r in collected[2])
    assert c0 < c1 < c2 == total
    # terminal stage == histogram1d exactly, est_cnt == cnt
    exact = {r.bucket: r.cnt for r in
             histogram.histogram1d(li, "l_extendedprice", 40).collect()}
    for r in collected[2]:
        assert r.cnt == exact[r.bucket]
        assert r.est_cnt == float(r.cnt)
        assert r.fraction == 1.0
    # the refining estimate is in the right ballpark mid-stream
    est1 = sum(r.est_cnt for r in collected[1])
    assert abs(est1 - total) / total < 0.2


def test_progressive_histogram_validates_stages(spark, tables):
    with pytest.raises(ValueError):
        list(histogram.progressive_histogram(
            tables["lineitem"], "l_extendedprice", stages=(0.5, 0.1, 1.0)))
    with pytest.raises(ValueError):
        list(histogram.progressive_histogram(
            tables["lineitem"], "l_extendedprice", stages=(0.1, 0.5)))


def test_cdf_monotone(spark, tables):
    c = histogram.cdf(tables["lineitem"], "l_extendedprice", 50).collect()
    vals = [r.cum_cnt for r in sorted(c, key=lambda r: r.bucket)]
    assert vals == sorted(vals)
    assert vals[-1] == tables["lineitem"].count()


def test_histogram2d_totals(spark, tables):
    li = tables["lineitem"]
    h = histogram.histogram2d(li, "l_quantity", "l_extendedprice", 5, 5)
    assert h.agg(F.sum("cnt")).first()[0] == li.count()


def test_next_k_pagination_covers_everything(spark, tables):
    """Scrolling through next_k pages must enumerate every distinct
    sort key exactly once — the spreadsheet invariant. Reference
    paging is anchor-INCLUSIVE (NextKSketch.java:100-103): the next
    page's first row repeats the previous page's last row, exactly
    like the UI's scroll anchor, so the walk drops that overlap row."""
    li = tables["lineitem"]
    cols = ["l_returnflag", "l_linestatus"]
    total_groups = li.select(*cols).distinct().count()
    seen, start = [], None
    for _ in range(100):
        page = spreadsheet.next_k(li, cols, k=3, start=start).collect()
        if start is not None and page:
            anchor = (page[0].l_returnflag, page[0].l_linestatus)
            assert anchor == start  # the inclusive anchor row
            page = page[1:]
        if not page:
            break
        seen.extend([(r.l_returnflag, r.l_linestatus) for r in page])
        last = page[-1]
        start = (last.l_returnflag, last.l_linestatus)
    assert len(seen) == total_groups
    assert len(set(seen)) == total_groups
    cnts = dict(
        ((r.l_returnflag, r.l_linestatus), r["cnt"])
        for r in spreadsheet.next_k(li, cols, k=100).collect()
    )
    assert sum(cnts.values()) == li.count()


def test_next_k_list_position_and_scan_count(spark):
    """NextKList parity: start_position counts rows strictly before
    the anchor in the record order (NULL keys, sorting last, are
    never 'before'), rows_scanned is the full row count, and the page
    itself is the anchor-inclusive next_k."""
    from hillview_spark.operators import spreadsheet

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("c", 5), (None, 6)],
        "k string, v int",
    )
    rows = spreadsheet.next_k_list(df, ["k"], k=2, start=("b",)).collect()
    assert [(r.k, r.cnt) for r in rows] == [("b", 2), ("c", 1)]
    assert all(r.start_position == 2 for r in rows)  # the two 'a' rows
    assert all(r.rows_scanned == 6 for r in rows)
    # no anchor: position 0
    top = spreadsheet.next_k_list(df, ["k"], k=1).collect()
    assert top[0].start_position == 0 and top[0].rows_scanned == 6
    # anchor past the last group (NULL keys sort last, so past them
    # too via exclusion... use inclusive=False past 'c' against the
    # NULL group): an EMPTY page still reports the stats on one
    # all-NULL page row, like the reference NextKList's empty rows
    # table (ADVICE r8)
    nn = df.where("k IS NOT NULL")
    empty = spreadsheet.next_k_list(
        nn, ["k"], k=2, start=("c",), inclusive=False
    ).collect()
    assert len(empty) == 1
    assert empty[0].k is None and empty[0].cnt is None
    # start_position = rows before the FIRST PAGE ROW (r10): the
    # exclusive page starts strictly after the anchor GROUP, so the
    # anchor's own row counts too — 'a','a','b','b','c' = 5, the rank
    # the scrollbar thumb actually sits at (the old strict-'<'
    # convention said 4, undercounting by the anchor's multiplicity)
    assert empty[0].start_position == 5 and empty[0].rows_scanned == 5


def test_histogram_string_bounded_reference_index_rules(spark):
    """ExplicitHistogramBuckets.indexOf parity: below-min excluded,
    at-or-past the last boundary lands in the last bucket, and with
    an explicit max the values strictly above it go to the OVERFLOW
    bucket (index = len(boundaries)) instead."""
    from hillview_spark.operators import histogram

    df = spark.createDataFrame(
        [("a",), ("b",), ("bz",), ("m",), ("mz",), ("z",), (None,)],
        "s string",
    )
    got = {
        r.bucket: r.cnt
        for r in histogram.histogram_string_bounded(
            df, "s", ["b", "m"]
        ).collect()
    }
    # 'a' excluded; b,bz -> 0; m,mz,z -> 1 (>= last boundary)
    assert got == {0: 2, 1: 3}
    got_max = {
        r.bucket: r.cnt
        for r in histogram.histogram_string_bounded(
            df, "s", ["b", "m"], max_value="mz"
        ).collect()
    }
    # 'z' > max -> overflow bucket 2; 'mz' == max stays in bucket 1
    assert got_max == {0: 2, 1: 2, 2: 1}


def test_find_first_semantics(spark):
    """FindSketch Result parity: before/at/after partition the
    matches around the anchor under the record order; at groups ties
    on the sort schema; forward=False searches up with the anchor
    excluded and re-oriented counts; NULL sort keys (missing-last)
    stay findable after every value."""
    from hillview_spark.operators import spreadsheet

    df = spark.createDataFrame(
        [(1, "x"), (2, "ox"), (3, "no"), (4, "ox"), (5, "oxo"),
         (None, "ox")],
        "k long, s string",
    )
    r = spreadsheet.find_first(df, "s", "ox", ["k"], start=(3,)).first()
    # matches: k in {2, 4, 5, NULL}; anchor 3 -> before {2},
    # first at-or-after = 4
    assert (r.before, r.at, r.after, r.first_k) == (1, 1, 2, 4)
    # ties on the sort key share 'at'
    df2 = spark.createDataFrame(
        [(1, "ox"), (2, "ox"), (2, "oxo"), (3, "ox")], "k long, s string"
    )
    r2 = spreadsheet.find_first(df2, "s", "ox", ["k"], start=(2,)).first()
    assert (r2.before, r2.at, r2.after, r2.first_k) == (1, 2, 1, 2)
    # the NULL key sorts last: from anchor 5 exclusive, it is the find
    r3 = spreadsheet.find_first(
        df, "s", "ox", ["k"], start=(5,), exclude_start=True
    ).first()
    assert (r3.before, r3.at, r3.after, r3.first_k) == (3, 1, 0, None)
    # search UP from 4 (reference next=false: anchor excluded,
    # counts re-oriented in the original order)
    r4 = spreadsheet.find_first(
        df, "s", "ox", ["k"], start=(4,), forward=False
    ).first()
    assert (r4.before, r4.at, r4.after, r4.first_k) == (0, 1, 3, 2)
    # no match at all: NULL first, zero counts
    r5 = spreadsheet.find_first(df, "s", "zzz", ["k"]).first()
    assert (r5.before, r5.at, r5.after, r5.first_k) == (0, 0, 0, None)


def test_next_k_descending(spark, tables):
    page = spreadsheet.next_k(
        tables["orders"], ["o_orderpriority"], k=2, ascending=[False]
    ).collect()
    vals = [r.o_orderpriority for r in page]
    assert vals == sorted(vals, reverse=True)


def test_heavy_hitters_threshold(spark, tables):
    docs = tables["documents"]
    total = docs.count()
    hh = heavy_hitters.heavy_hitters(docs, ["lang"], epsilon=0.10).collect()
    for r in hh:
        assert r.cnt >= 0.10 * total
    # exact counts: every reported count matches a direct groupBy
    direct = dict(
        (r.lang, r["count"]) for r in docs.groupBy("lang").count().collect()
    )
    for r in hh:
        assert direct[r.lang] == r.cnt


def test_heavy_hitters_sampled_matches_exact(spark, tables):
    li = tables["lineitem"]
    exact = {
        tuple(r)[:-1]: r.cnt
        for r in heavy_hitters.heavy_hitters(li, ["l_returnflag"], 0.2).collect()
    }
    sampled = {
        tuple(r)[:-1]: r.cnt
        for r in heavy_hitters.heavy_hitters_sampled(
            li, ["l_returnflag"], 0.2
        ).collect()
    }
    assert exact == sampled


def test_histogram_with_cdf_fused(spark, tables):
    li = tables["lineitem"]
    rows = sorted(
        histogram.histogram_with_cdf(li, "l_extendedprice", 20).collect(),
        key=lambda r: r.bucket,
    )
    assert len(rows) == 20
    running = 0
    for r in rows:
        running += r.cnt
        assert r.cum_cnt == running
    assert rows[-1].cum_cnt == li.count()


def test_histogram_quantiles_per_bucket(spark, tables):
    li = tables["lineitem"]
    rows = histogram.histogram_quantiles(
        li, "l_quantity", 8, "l_extendedprice", [0.25, 0.5, 0.75]
    ).collect()
    assert 0 < len(rows) <= 8
    assert sum(r.cnt for r in rows) == li.count()
    for r in rows:
        assert r.q25 <= r.q50 <= r.q75


def test_string_quantiles_boundaries(spark, tables):
    rows = sorted(
        stats.string_quantiles(tables["customer"], "c_name", 8).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(8))
    bounds = [r.boundary for r in rows]
    assert bounds == sorted(bounds)
    # the first boundary is the global minimum distinct value
    mn = tables["customer"].agg({"c_name": "min"}).first()[0]
    assert bounds[0] == mn


def test_num_items_threshold(spark, tables):
    assert stats.num_items_threshold(
        tables["part"], "p_partkey", 1
    ).first().above_threshold
    assert not stats.num_items_threshold(
        tables["part"], "p_type", 10**6
    ).first().above_threshold


def test_quantiles_order(spark, tables):
    q = stats.quantiles(
        tables["lineitem"], "l_extendedprice", [0.1, 0.5, 0.9]
    ).first()
    assert q.q10 <= q.q50 <= q.q90


def test_basic_col_stats_sanity(spark, tables):
    s = {
        r.col_name: r
        for r in stats.basic_col_stats(
            tables["lineitem"], ["l_quantity", "l_discount"]
        ).collect()
    }
    li = tables["lineitem"]
    assert s["l_quantity"].present_count == li.count()
    assert s["l_quantity"].missing_count == 0
    assert s["l_quantity"].min_val >= 1
    assert 0 <= s["l_discount"].mean_val <= 0.11


def test_distinct_count_exact_vs_approx(spark, tables):
    li = tables["lineitem"]
    exact = stats.distinct_count(li, "l_partkey").first()[0]
    approx = stats.distinct_count_approx(li, "l_partkey", rsd=0.02).first()[0]
    assert abs(approx - exact) / exact < 0.1


def test_filters_compose_and_complement(spark, tables):
    li = tables["lineitem"]
    n = li.count()
    cond = filters.range_filter("l_quantity", 10, 20)
    comp = filters.range_filter("l_quantity", 10, 20, complement=True)
    assert li.where(cond).count() + li.where(comp).count() == n
    both = filters.all_of(cond, filters.comparison_filter("l_discount", ">=", 0.05))
    either = filters.any_of(cond, filters.comparison_filter("l_discount", ">=", 0.05))
    assert li.where(both).count() <= li.where(cond).count() <= li.where(either).count()


def test_string_filter_modes(spark, tables):
    docs = tables["documents"]
    sub = docs.where(filters.string_filter("text", "SPARK", "substring")).count()
    assert sub == docs.where(F.col("text").contains("spark")).count()  # case-insensitive
    ex = docs.where(filters.string_filter("lang", "en", "exact")).count()
    assert ex == docs.where(F.col("lang") == "en").count()
    neg = docs.where(filters.string_filter("lang", "en", "exact", negate=True)).count()
    assert ex + neg == docs.count()


def test_convert_column_invalid_to_null(spark):
    df = spark.createDataFrame([("12",), ("x",)], "v string")
    out = maps.convert_column(df, "v", "int", "vi").collect()
    vals = {r.v: r.vi for r in out}
    assert vals["12"] == 12 and vals["x"] is None


def test_set_operations(spark, tables):
    docs = tables["documents"]
    a = docs.where(F.col("lang") == "en").select("doc_id")
    b = docs.where(F.col("source") == "src0").select("doc_id")
    u = maps.set_operation(a, b, "union").count()
    i = maps.set_operation(a, b, "intersect").count()
    e = maps.set_operation(a, b, "except").count()
    assert u == a.count() + b.count()
    assert e == a.count() - i


def test_interval_and_json_extract(spark, tables):
    iv = maps.interval_column(tables["lineitem"], "r", "l_quantity", "l_extendedprice")
    row = iv.select("r").first()
    assert row.r.start is not None and row.r.end is not None
    ev = maps.extract_json_value(tables["events"], "props", "k", "kv")
    assert ev.where(F.col("kv").isNull()).count() == 0


def test_reservoir_sample_size_and_determinism(spark, tables):
    li = tables["lineitem"]
    s1 = sampling.reservoir_sample(li, 100, seed=7)
    s2 = sampling.reservoir_sample(li, 100, seed=7)
    assert s1.count() == 100
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))


def test_pca_first_component_captures_variance(spark, tables):
    out = correlation.pca_project(
        tables["lineitem"], ["l_quantity", "l_extendedprice", "l_discount"], k=2
    )
    agg = out.agg(
        F.stddev_samp("pc0").alias("s0"), F.stddev_samp("pc1").alias("s1")
    ).first()
    assert agg.s0 >= agg.s1  # components ordered by eigenvalue


def test_corr_matrix_diagonal_one(spark, tables):
    m = correlation.corr_matrix(tables["lineitem"], ["l_quantity", "l_tax"]).collect()
    diag = [r.corr for r in m if r.col_x == r.col_y]
    assert all(abs(v - 1.0) < 1e-9 for v in diag)


def test_data_range_interval(spark, tables):
    iv = maps.interval_column(
        tables["lineitem"], "r", "l_quantity", "l_extendedprice"
    )
    got = histogram.data_range_interval(iv, "r").first()
    li = tables["lineitem"]
    exp = li.agg({"l_quantity": "min", "l_extendedprice": "max"}).first()
    assert got.min_start == exp[0] or got.min_start == exp[1]
    assert got.present_count == li.count()
    assert got.missing_count == 0


def test_row_quantiles_boundaries(spark, tables):
    rows = sorted(
        stats.row_quantiles(
            tables["customer"], ["c_nationkey", "c_name"], 8
        ).collect(),
        key=lambda r: r.bucket,
    )
    assert [r.bucket for r in rows] == list(range(8))
    tuples = [(r.c_nationkey, r.c_name) for r in rows]
    assert tuples == sorted(tuples)
    first = (
        tables["customer"]
        .orderBy("c_nationkey", "c_name")
        .select("c_nationkey", "c_name")
        .first()
    )
    assert tuples[0] == (first.c_nationkey, first.c_name)


def test_global_rank_matches_window_rank(spark, tables):
    from pyspark.sql import Window, functions as F

    d = tables["part"].select("p_type").distinct()
    got = {
        r.p_type: r.rnk for r in stats.global_rank(d, ["p_type"]).collect()
    }
    want = {
        r.p_type: r.rnk
        for r in d.select(
            "p_type", (F.row_number().over(Window.orderBy("p_type")) - 1).alias("rnk")
        ).collect()
    }
    assert got == want


def test_range_filter_array_matches_manual(spark, tables):
    from hillview_spark.operators import filters

    li = tables["lineitem"]
    got = li.where(
        filters.range_filter_array(
            [{"col": "l_quantity", "lo": 10, "hi": 30},
             {"col": "l_discount", "lo": 0.02, "hi": 0.05}]
        )
    ).count()
    want = li.where(
        "l_quantity >= 10 AND l_quantity <= 30 "
        "AND l_discount >= 0.02 AND l_discount <= 0.05"
    ).count()
    assert got == want > 0
    comp = li.where(
        filters.range_filter_array(
            [{"col": "l_quantity", "lo": 10, "hi": 30},
             {"col": "l_discount", "lo": 0.02, "hi": 0.05}],
            complement=True,
        )
    ).count()
    assert got + comp == li.count()


def test_basic_col_stats_large_values_no_overflow(spark):
    """Columns with |value| >= 10^8 (epoch millis) must not overflow
    the decimal casts — NULLed sums would silently skew mean/stddev."""
    import statistics

    vals = [1_700_000_000_000 + i * 12_345 for i in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "ts_ms long")
    r = stats.basic_col_stats(df, ["ts_ms"]).first()
    assert r.sum_val == float(sum(vals))
    assert abs(r.mean_val - statistics.mean(vals)) < 1e-3
    # stddev uses the moment formula: exact decimal sums, but the
    # final subtraction happens in double, so when |mean| >> sd the
    # cancellation costs relative (not absolute) precision.
    want = statistics.stdev(vals)
    assert abs(r.stddev_val - want) / want < 0.01


def test_quantize_column_snaps_to_left_edges(spark, tables):
    from hillview_spark.operators import maps as mp

    li = tables["lineitem"]
    q = mp.quantize_column(li, "l_quantity", 0.0, 50.0, 10, out_col="qq")
    vals = {r.qq for r in q.select("qq").distinct().collect()}
    assert vals <= {i * 5.0 for i in range(10)}
    # in-range values never leave their bucket; out-of-range clamp
    chk = q.select("l_quantity", "qq").where(
        (F.col("l_quantity") >= 0.0) & (F.col("l_quantity") < 50.0)
        & ((F.col("qq") > F.col("l_quantity"))
           | (F.col("l_quantity") >= F.col("qq") + 5.0))
    )
    assert chk.count() == 0
    clamped = q.where("l_quantity >= 50.0")
    assert clamped.where("qq <> 45.0").count() == 0
    # composes under any sketch: histogram over quantized == bucket counts
    from hillview_spark.operators import histogram as hg

    direct = {
        (r.bucket, r.cnt) for r in hg.histogram1d(li.where(
            "l_quantity >= 0 and l_quantity < 50"), "l_quantity", 10).collect()
        if r.cnt > 0
    }
    assert len(direct) > 0


def test_quantize_string_column(spark):
    from hillview_spark.operators import maps as mp

    df = spark.createDataFrame(
        [("apple",), ("banana",), ("cherry",), ("aardvark",), (None,)],
        "w string",
    )
    out = {
        r.w: r.qw
        for r in mp.quantize_string_column(
            df, "w", ["b", "c"], out_col="qw"
        ).collect()
    }
    # below the first boundary -> MISSING (r8 reference rule:
    # StringColumnQuantization.roundDown rejects, bucketIndex -1)
    assert out == {"apple": None, "aardvark": None, "banana": "b",
                   "cherry": "c", None: None}


def test_row_comparison_filter_semantics(spark, tables):
    li = tables["lineitem"]
    cols = ["l_returnflag", "l_linestatus"]
    row = ("N", "F")
    n_lt = li.where(filters.row_comparison_filter(cols, row, "<")).count()
    n_eq = li.where(filters.row_comparison_filter(cols, row, "==")).count()
    n_gt = li.where(filters.row_comparison_filter(cols, row, ">")).count()
    assert n_lt + n_eq + n_gt == li.count()
    assert li.where(filters.row_comparison_filter(cols, row, "<=")).count() == n_lt + n_eq
    assert li.where(filters.row_comparison_filter(cols, row, ">=")).count() == n_gt + n_eq
    # descending order flips which side of the tuple is 'after'
    n_gt_desc = li.where(
        filters.row_comparison_filter(cols, row, ">", ascending=[False, False])
    ).count()
    assert n_gt_desc == n_lt


def test_string_columns_filter_any_match(spark, tables):
    docs = tables["documents"]
    both = docs.where(
        filters.string_columns_filter(["text", "source"], "merge")
    ).count()
    text_only = docs.where(filters.string_filter("text", "merge")).count()
    src_only = docs.where(filters.string_filter("source", "merge")).count()
    assert both >= max(text_only, src_only)
    neither = docs.where(
        filters.string_columns_filter(["text", "source"], "merge", negate=True)
    ).count()
    assert both + neither == docs.count()


def test_predicate_filter_sql_tier(spark, tables):
    """JSFilterDescription analogue: arbitrary SQL predicates stay in
    Catalyst and match the equivalent composed filters."""
    li = tables["lineitem"]
    pred = filters.predicate_filter(
        "l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag <> 'A'"
    )
    composed = filters.range_filter("l_quantity", 10, 20) & (
        F.col("l_returnflag") != "A"
    )
    assert li.where(pred).count() == li.where(composed).count()
    # predicate reaches the parquet scan as pushed filters
    plan = li.where(pred)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_quantity" in plan


def test_predicate_filter_pandas_escape(spark, tables):
    """The Arrow-batched escape hatch computes non-SQL logic and
    agrees with the SQL tier on an expressible predicate."""
    li = tables["lineitem"]

    def fn(cols):
        return (cols["l_quantity"] * 2) > (cols["l_extendedprice"] / 1000)

    n_pandas = li.where(
        filters.predicate_filter_pandas(fn, ["l_quantity", "l_extendedprice"])
    ).count()
    n_sql = li.where(
        filters.predicate_filter("l_quantity * 2 > l_extendedprice / 1000")
    ).count()
    assert n_pandas == n_sql

    import pytest as _pytest

    with _pytest.raises(TypeError):
        filters.predicate_filter(fn)


def test_histogram_and_singleton(spark):
    df = spark.createDataFrame(
        [(0.5,), (0.6,), (5.5,), (9.9,)], "x double"
    )
    rows = {r.bucket: r for r in
            histogram.histogram_and_singleton(df, "x", 10).collect()}
    assert len(rows) == 10
    assert rows[0].cnt == 2 and rows[0].singleton is None
    # clamped max lands in the last bucket; 5.5 -> bucket 5 (range .5-9.9)
    singles = {b: r.singleton for b, r in rows.items() if r.cnt == 1}
    assert set(singles.values()) == {5.5, 9.9}
    assert all(r.singleton is None for r in rows.values() if r.cnt != 1)


def test_asof_join_known_values(spark):
    from hillview_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 10:00:00"), (1, 11, "2024-01-01 12:00:00"),
         (2, 20, "2024-01-01 09:00:00")],
        "user_id long, event_id long, ts_s string",
    ).select("user_id", "event_id", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    right = spark.createDataFrame(
        [(1, 100.0, "2024-01-01 09:30:00"), (1, 200.0, "2024-01-01 11:00:00"),
         (3, 999.0, "2024-01-01 00:00:00")],
        "user_id long, v double, ts_s string",
    ).select("user_id", "v", F.col("ts_s").cast("timestamp_ntz").alias("ts"))
    out = {r.event_id: (r.v_r, str(r.ts_r)) for r in temporal.asof_join(
        left, right, "ts", ["user_id"], ["v"]).collect()}
    assert out[10] == (100.0, "2024-01-01 09:30:00")   # only 9:30 precedes 10:00
    assert out[11] == (200.0, "2024-01-01 11:00:00")   # 11:00 is latest
    assert out[20] == (None, "None")                   # user 2 has no right rows


def test_asof_join_inclusive_tie(spark):
    from hillview_spark.operators import temporal

    ts = "2024-01-01 10:00:00"
    left = spark.createDataFrame([(1, 10, ts)], "user_id long, event_id long, s string")\
        .select("user_id", "event_id", F.col("s").cast("timestamp_ntz").alias("ts"))
    right = spark.createDataFrame([(1, 7.0, ts)], "user_id long, v double, s string")\
        .select("user_id", "v", F.col("s").cast("timestamp_ntz").alias("ts"))
    r = temporal.asof_join(left, right, "ts", ["user_id"], ["v"]).first()
    assert r.v_r == 7.0  # same-instant right row is visible


def test_range_join_matches_bruteforce(spark, tables):
    from hillview_spark.operators import temporal
    from hillview_spark.streaming import events as ev
    from hillview_spark.plans import explain as ex

    events = tables["events"]
    sessions = ev.sessionize(events, 30)
    got = temporal.range_join(
        events.select("event_id", "user_id", "ts"),
        sessions, "ts", "session_start", "session_end", ["user_id"],
        bucket_seconds=1800,
    ).select("event_id", "session_id")
    brute = (
        events.select("event_id", "user_id", "ts")
        .join(sessions, "user_id")
        .where((F.col("ts") >= F.col("session_start"))
               & (F.col("ts") <= F.col("session_end")))
        .select("event_id", "session_id")
    )
    assert {(r.event_id, r.session_id) for r in got.collect()} == \
           {(r.event_id, r.session_id) for r in brute.collect()}
    ex.assert_no_cartesian(got)


# --- ANSI-mode / NULL-semantics regressions (Spark 4 defaults) ------


def test_basic_col_stats_single_value_column(spark):
    from hillview_spark.operators import stats

    df = spark.createDataFrame([(1.0,)], "x double")
    r = stats.basic_col_stats(df, ["x"]).collect()[0]
    assert r.mean_val == 1.0 and r.stddev_val is None  # no DIVIDE_BY_ZERO


def test_next_k_pages_through_null_keys(spark):
    from hillview_spark.operators import spreadsheet

    df = spark.createDataFrame(
        [(None,), ("a",), ("b",), ("c",)], "k string"
    )
    # Reference record order (IDoubleColumn.java:70-78): missing is
    # the MAXIMUM — ASC pages end with the NULL group; paging is
    # anchor-inclusive (NextKSketch.java:100-103), so start=(None,)
    # under ASC addresses exactly the NULL group
    p1 = [r.k for r in spreadsheet.next_k(df, ["k"], k=4).collect()]
    assert p1 == ["a", "b", "c", None]
    p2 = [r.k for r in spreadsheet.next_k(df, ["k"], k=3, start=("c",)).collect()]
    assert p2 == ["c", None]
    pn = [r.k for r in spreadsheet.next_k(df, ["k"], k=3, start=(None,)).collect()]
    assert pn == [None]
    # the strictly-after variant for custom pagination
    assert (
        spreadsheet.next_k(df, ["k"], k=3, start=(None,), inclusive=False)
        .count() == 0
    )
    # DESC: NULL sorts first; the anchor-inclusive page from the NULL
    # group walks down into the values
    pd = [
        r.k
        for r in spreadsheet.next_k(
            df, ["k"], k=2, ascending=[False], start=(None,)
        ).collect()
    ]
    assert pd == [None, "c"]


def test_next_k_aggregate_avg_skips_nulls_and_big_values(spark):
    from hillview_spark.operators import spreadsheet

    df = spark.createDataFrame(
        [("g", 10.0), ("g", None), ("h", 1e15)], "k string, v double"
    )
    out = {
        r.k: (r.avg_v, r.sum_v)
        for r in spreadsheet.next_k_aggregate(
            df, ["k"], [("v", "avg"), ("v", "sum")], k=10
        ).collect()
    }
    assert out["g"][0] == 10.0  # null-skipping AVG, not sum/rowcount
    assert out["h"][1] == 1e15  # no decimal overflow at epoch-nanos scale


def test_heavy_hitters_sampled_keeps_null_group(spark):
    from hillview_spark.operators import heavy_hitters

    rows = [(None,)] * 50 + [("b",)] * 50
    df = spark.createDataFrame(rows, "k string")
    got = {
        r.k: r.cnt
        for r in heavy_hitters.heavy_hitters_sampled(
            df, ["k"], epsilon=0.3, fraction=1.0
        ).collect()
    }
    assert got == {None: 50, "b": 50}


def test_histogram_nd_date_axis(spark):
    import datetime as dt

    from hillview_spark.operators import histogram

    rows = [(dt.date(2024, 1, 1 + i), float(i)) for i in range(8)]
    df = spark.createDataFrame(rows, "d date, v double")
    out = histogram.histogram_nd(df, [("d", 4), ("v", 2)]).collect()
    assert sum(r.cnt for r in out) == 8
    assert {r.d_bucket for r in out} <= {0, 1, 2, 3}


def test_quantiles_subpercent_aliases_unique(spark):
    from hillview_spark.operators import stats

    df = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    out = stats.quantiles(df, "x", [0.02, 0.025, 0.5])
    assert out.columns == ["q02", "q2_5", "q50"]


def test_filter_plus_complement_partitions_with_nulls(spark):
    from hillview_spark.operators import filters as flt

    df = spark.createDataFrame(
        [(None,), (5.0,), (15.0,), (25.0,)], "x double"
    )
    n = df.count()
    sel = df.where(flt.range_filter("x", 10, 20))
    comp = df.where(flt.range_filter("x", 10, 20, complement=True))
    assert sel.count() + comp.count() == n  # NULL lands in complement
    assert comp.where(F.col("x").isNull()).count() == 1
    # != keeps missing values (missing is distinct from every value)
    s = spark.createDataFrame([(None,), ("en",), ("fr",)], "lang string")
    ne = s.where(flt.comparison_filter("lang", "!=", "en"))
    assert ne.count() == 2


def test_quality_score_empty_doc_no_crash(spark):
    from hillview_spark.functions import text

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, None), (4, "the cat is here")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.quality_score(df).collect()}
    assert out[1].n_tokens == 0 and out[2].n_tokens == 0
    assert out[3].n_tokens is None
    assert out[4].quality > out[1].quality
    toks = {r.doc_id: r.ws_tokens for r in text.token_count(df).collect()}
    assert toks == {1: 0, 2: 0, 3: None, 4: 4}


def test_set_operation_except_is_set_semantic(spark):
    from hillview_spark.operators import maps

    a = spark.createDataFrame([(1,), (1,), (1,), (2,)], "x int")
    b = spark.createDataFrame([(2,)], "x int")
    out = [r.x for r in maps.set_operation(a, b, "except").collect()]
    assert out == [1]  # once, not three times


def test_asof_chunked_pre_epoch_timestamps(spark):
    import datetime as dt

    from hillview_spark.operators import temporal

    base = dt.datetime(1969, 12, 31, 23, 0, 0)
    right = spark.createDataFrame(
        [(1, base + dt.timedelta(minutes=10), 100.0)],
        "user_id long, ts timestamp, value double",
    )
    left = spark.createDataFrame(
        [(7, 1, base + dt.timedelta(minutes=50))],
        "event_id long, user_id long, ts timestamp",
    )
    out = temporal.asof_join(
        left, right, "ts", ["user_id"], ["value"], chunk_seconds=3600
    ).collect()
    assert len(out) == 1 and out[0].value_r == 100.0  # match visible pre-1970


def test_asof_join_ignores_null_right_timestamps(spark):
    from hillview_spark.operators import temporal

    left = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00")], "k string, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [("u", None, 5.0), ("u", "2023-12-31 00:00:00", 7.0)],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    plain = temporal.asof_join(left, right, "ts", ["k"], ["v"]).collect()
    # the NULL-ts right row satisfies no as-of predicate; the real
    # 2023 row must win
    assert plain[0].v_r == 7.0
    chunked = temporal.asof_join(
        left, right, "ts", ["k"], ["v"], chunk_seconds=3600
    ).collect()
    assert [tuple(r) for r in chunked] == [tuple(r) for r in plain]
    # only-NULL right history -> no match at all
    r2 = right.where(F.col("ts").isNull())
    assert temporal.asof_join(left, r2, "ts", ["k"], ["v"]).collect()[0].v_r is None


def test_asof_join_null_keys_never_match(spark):
    """SQL equality semantics (r10 review): a NULL key matches
    nothing on either side — DuckDB `ASOF LEFT JOIN ... ON l.k = r.k`
    keeps the NULL-key left row with NULL payload; the pre-r10 window
    path grouped NULL keys together and handed it the NULL-key right
    history. Default and chunked paths must agree, including on
    NULL-ts left rows (the chunked path used to leak the NULL chunk's
    right payload into them)."""
    from hillview_spark.operators import temporal

    left = spark.createDataFrame(
        [(1, None, "2024-01-01 00:10:00"),   # NULL key
         (2, "u", "2024-01-01 00:10:00"),    # real key, real match
         (3, "u", None)],                    # NULL left ts
        "event_id long, k string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    right = spark.createDataFrame(
        [(None, "2024-01-01 00:00:00", 1.0),  # NULL key: matches nothing
         (None, None, 99.0),                  # NULL key AND ts
         ("u", "2024-01-01 00:05:00", 7.0)],
        "k string, ts string, v double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    want = {1: None, 2: 7.0, 3: None}
    plain = {r.event_id: r.v_r for r in temporal.asof_join(
        left, right, "ts", ["k"], ["v"]).collect()}
    assert plain == want
    chunked = {r.event_id: r.v_r for r in temporal.asof_join(
        left, right, "ts", ["k"], ["v"], chunk_seconds=60).collect()}
    assert chunked == want
    # and the DuckDB twin agrees row-for-row
    import duckdb

    con = duckdb.connect()
    con.register("l", left.toPandas())
    con.register("r", right.toPandas())
    # NULL-ts left rows take the gate oracle's explicit no-match
    # branch (DuckDB's ASOF binary search sorts a NULL ts LAST and
    # would hand it the latest match — the documented quirk the
    # asof_join_events oracle splits around)
    duck = {
        k: v
        for k, v in con.sql(
            "SELECT l.event_id, r.v FROM (SELECT * FROM l WHERE ts IS"
            " NOT NULL) l ASOF LEFT JOIN r"
            " ON l.k = r.k AND l.ts >= r.ts"
            " UNION ALL SELECT event_id, NULL FROM l WHERE ts IS NULL"
        ).fetchall()
    }
    assert duck == want


def test_salted_join_same_key_name(spark):
    from hillview_spark.operators import skew

    l = spark.createDataFrame([(1, "a"), (2, "b")], "k int, lv string")
    r = spark.createDataFrame([(1, "x"), (3, "y")], "k int, rv string")
    rows = skew.salted_join(l, r, "k", "k").collect()
    assert len(rows) == 1 and rows[0].lv == "a" and rows[0].rv == "x"


def test_moving_aggregate_first_chunk_exempt_from_envelope(spark):
    from hillview_spark.operators import temporal

    # key starts mid-chunk: 1 row in its first chunk, 7 in the next.
    # strict=True must ACCEPT this (the thin first chunk exports its
    # whole history) and match the unchunked result exactly.
    rows = [("u", "2024-01-01 00:29:00", 1, 1.0)] + [
        ("u", f"2024-01-01 00:{31 + i}:00", 2 + i, 1.0) for i in range(7)
    ]
    ev = spark.createDataFrame(
        rows, "user_id string, ts string, event_id int, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    chunked = temporal.moving_aggregate(
        ev, n_preceding=3, key_col="user_id", ts_col="ts",
        tiebreak_col="event_id", value_col="value",
        chunk_seconds=1800, strict=True,
    ).collect()
    plain = temporal.moving_aggregate(
        ev, n_preceding=3, key_col="user_id", ts_col="ts",
        tiebreak_col="event_id", value_col="value",
    ).collect()
    key = lambda r: (r.user_id, r.ts, r.event_id)
    assert sorted(map(tuple, chunked), key=lambda t: t[:3]) == sorted(
        map(tuple, plain), key=lambda t: t[:3]
    )
    # a thin MIDDLE chunk (has both neighbors) still trips strict
    ev2 = spark.createDataFrame(
        [("u", "2024-01-01 00:29:00", 1, 1.0),
         ("u", "2024-01-01 00:31:00", 2, 1.0),
         ("u", "2024-01-01 01:31:00", 3, 1.0)],
        "user_id string, ts string, event_id int, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    with pytest.raises(ValueError, match="envelope"):
        temporal.moving_aggregate(
            ev2, n_preceding=3, key_col="user_id", ts_col="ts",
            tiebreak_col="event_id", value_col="value",
            chunk_seconds=1800, strict=True,
        ).collect()


def test_histogram_nan_treated_as_missing(spark):
    from hillview_spark.operators import histogram as H

    df = spark.createDataFrame(
        [(1.0,), (2.0,), (3.0,), (float("nan"),), (None,)], "x double"
    )
    # range ignores NaN (one NaN used to poison max -> every row in
    # bucket 0)
    rng = H.data_range(df, "x").collect()[0]
    assert rng.min_val == 1.0 and rng.max_val == 3.0
    assert rng.present_count == 3 and rng.missing_count == 2
    h = {r.bucket: r.cnt for r in H.histogram1d(df, "x", 3).collect()}
    assert h == {0: 1, 1: 1, 2: 1}  # finite rows spread; NaN dropped
    # 2-D path too
    df2 = df.withColumn("y", F.col("x"))
    h2 = H.histogram2d(df2, "x", "y", 3, 3).collect()
    assert sum(r.cnt for r in h2) == 3


def test_basic_col_stats_constant_column_stddev_zero(spark):
    from hillview_spark.operators import stats as S

    df = spark.createDataFrame([(0.1,), (0.1,)], "v double")
    row = S.basic_col_stats(df, ["v"]).collect()[0]
    # moment cancellation used to give sqrt(-3.5e-18) = NaN
    assert row.stddev_val == 0.0


def test_exact_freq_null_candidate(spark):
    from hillview_spark.operators import heavy_hitters as HH

    df = spark.createDataFrame([("a",), (None,), (None,), ("b",)], "s string")
    out = {r.value: r.cnt for r in HH.exact_freq(df, "s", [None, "a"]).collect()}
    assert out == {None: 2, "a": 1}


def test_exact_freq_null_candidate_nonnullable_source(spark):
    """r11 (r10 advice): the candidate frame declares nullable=True
    explicitly — copying a required (non-nullable) source field's
    schema verbatim made a None candidate fail createDataFrame
    verification."""
    from pyspark.sql.types import StringType, StructField, StructType

    from hillview_spark.operators import heavy_hitters as HH

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",)],
        StructType([StructField("s", StringType(), False)]),
    )
    assert not df.schema["s"].nullable
    out = {r.value: r.cnt for r in HH.exact_freq(df, "s", [None, "a"]).collect()}
    assert out == {"a": 2, None: 0}


def test_exact_freq_zero_candidates_reported(spark):
    """ExactFreqSketch parity (r10): one row per candidate, zeros
    included — zero() and add() carry the full candidate list, so a
    candidate absent from the data reports count 0 instead of
    silently vanishing from the result."""
    from hillview_spark.operators import heavy_hitters as HH

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "s string")
    out = {r.value: r.cnt for r in HH.exact_freq(
        df, "s", ["a", "zz", None]).collect()}
    assert out == {"a": 2, "zz": 0, None: 0}


def test_range_and_comparison_filters_exclude_nonfinite(spark):
    """Non-finite is MISSING for numeric bounds (r10, reference
    DoubleRangeFilter: missing -> includeMissing=false, Java NaN
    comparisons false). Both engines rank NaN above every value, so
    a lo-only filter kept NaN rows before the guard — and
    complement=True dropped them from BOTH sides, breaking the
    filter + complement partition."""
    from hillview_spark.operators import filters as FL

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(1, 5.0), (2, nan), (3, inf), (4, -inf), (5, None), (6, 50.0)],
        "id int, x double",
    )
    lo_only = {r.id for r in df.where(
        FL.range_filter("x", lo=10.0)).collect()}
    assert lo_only == {6}  # NaN/+Inf excluded, not "greater than 10"
    comp = {r.id for r in df.where(
        FL.range_filter("x", lo=10.0, complement=True)).collect()}
    # complement keeps every non-matching row INCLUDING the
    # missing-like ones: the two sides partition the table
    assert comp == {1, 2, 3, 4, 5}
    gt = {r.id for r in df.where(
        FL.comparison_filter("x", ">", 10.0)).collect()}
    assert gt == {6}
    # ==/!= stay NaN-literal-exact (the only way to SELECT the
    # quarantined rows); string bounds carry no finite guard
    eq_nan = {r.id for r in df.where(
        FL.comparison_filter("x", "==", nan)).collect()}
    assert eq_nan == {2}
    sdf = spark.createDataFrame([("a",), ("z",), (None,)], "s string")
    assert {r.s for r in sdf.where(
        FL.range_filter("s", lo="b")).collect()} == {"z"}


def test_finite_guard_dtype_dispatch(spark):
    """r11 (r10 advice): the non-finite guard dispatches on the
    COLUMN dtype, not the Python type of the bound — int columns
    given numeric bounds skip the no-op `-inf < c < inf` conjunct
    (which forced a double cast and could block pushdown), while
    float/double and unknown dtypes keep it. Values identical either
    way (ints have no NaN)."""
    from hillview_spark.operators import filters as FL

    # expression shape: int dtype drops the guard, double/None keep it
    assert "Infinity" not in str(FL.range_filter("x", lo=10, dtype="bigint"))
    assert "Infinity" in str(FL.range_filter("x", lo=10, dtype="double"))
    assert "Infinity" in str(FL.range_filter("x", lo=10))
    assert "Infinity" not in str(
        FL.comparison_filter("x", ">", 10, dtype="int")
    )
    assert "Infinity" in str(FL.comparison_filter("x", ">", 10, dtype="float"))
    # string columns KEEP the guard (r11 review): a numeric bound on
    # a string column casts 'Infinity' to +Inf, which the r10 rule
    # excludes — only integral/decimal dtypes provably can't go
    # non-finite under the implicit cast
    assert "Infinity" in str(FL.range_filter("x", lo=10, dtype="string"))
    assert "Infinity" not in str(FL.range_filter("x", lo=10, dtype="decimal(12,2)"))
    sdf = spark.createDataFrame(
        [(1, "5"), (2, "Infinity"), (3, "50")], "id int, s string"
    )
    kept = {r.id for r in sdf.where(
        FL.range_filter("s", lo=10.0, dtype="string")).collect()}
    assert kept == {3}  # castable-'Infinity' row excluded, as in r10

    df = spark.createDataFrame(
        [(1, 100), (2, 5), (3, None)], "id int, x bigint"
    )
    with_guard = {r.id for r in df.where(FL.range_filter("x", lo=10)).collect()}
    no_guard = {
        r.id
        for r in df.where(FL.range_filter("x", lo=10, dtype="bigint")).collect()
    }
    assert with_guard == no_guard == {1}

    # range_filter_array resolves dtypes from the frame; explicit
    # per-entry dtype wins
    arr = FL.range_filter_array([{"col": "x", "lo": 10}], df=df)
    assert "Infinity" not in str(arr)
    arr2 = FL.range_filter_array(
        [{"col": "x", "lo": 10, "dtype": "double"}], df=df
    )
    assert "Infinity" in str(arr2)
    assert {r.id for r in df.where(arr).collect()} == {1}


def test_progressive_stage_validation_is_eager(spark, tables):
    from hillview_spark.operators import heavy_hitters as HH
    from hillview_spark.operators import histogram as H

    with pytest.raises(ValueError, match="stages"):
        H.progressive_histogram(tables["lineitem"], "l_quantity", stages=(0.0, 1.0))
    with pytest.raises(ValueError, match="stages"):
        H.progressive_histogram(tables["lineitem"], "l_quantity", stages=(0.5, 0.5, 1.0))
    with pytest.raises(ValueError, match="stages"):
        HH.progressive_heavy_hitters(tables["lineitem"], ["l_returnflag"], stages=(1.0, 0.5))


def test_salted_hex_null_key_raises(spark):
    from hillview_spark.operators import sampling as SA

    df = spark.createDataFrame([(1, "k"), (2, None)], "id int, k string")
    with pytest.raises(Exception, match="NULL key"):
        df.select(SA.salted_hex(F.col("k"), "s").alias("h")).collect()
    # non-null keys unaffected
    ok = df.where(F.col("k").isNotNull()).select(
        SA.salted_hex(F.col("k"), "s").alias("h")
    ).collect()
    assert len(ok) == 1


def test_quantize_column_nan_stays_missing(spark):
    df = spark.createDataFrame(
        [(1.0,), (float("nan"),), (None,)], "x double"
    )
    out = [r.x for r in maps.quantize_column(df, "x", 0.0, 50.0, 10).collect()]
    # NaN must NOT snap to the lowest bucket's left edge (0.0)
    assert sorted(v for v in out if v is not None) == [0.0]
    assert sum(v is None for v in out) == 2


def test_portable_bernoulli_deterministic_and_unbiased(spark, tables):
    from hillview_spark.operators.sampling import portable_bernoulli

    li = tables["lineitem"]
    key = ["l_orderkey", "l_linenumber"]
    a = li.where(portable_bernoulli(key, 0.5)).count()
    b = li.where(portable_bernoulli(key, 0.5)).count()
    assert a == b  # pure function of the key — no engine RNG
    n = li.count()
    assert abs(a / n - 0.5) < 0.03  # md5 uniformity at 6k rows
    # different seeds draw different subsets
    c = li.where(portable_bernoulli(key, 0.5, seed=1)).count()
    ab = li.where(
        portable_bernoulli(key, 0.5) & portable_bernoulli(key, 0.5, seed=1)
    ).count()
    assert abs(ab / n - 0.25) < 0.04  # near-independent coins
    assert c == li.where(portable_bernoulli(key, 0.5, seed=1)).count()
    # NULL key field fails loudly instead of collapsing into a bucket
    nullable = spark.createDataFrame([(1,), (None,)], "k int")
    with pytest.raises(Exception, match="deterministic hash"):
        nullable.where(
            portable_bernoulli(["k"], 0.5)
        ).count()


def test_portable_bernoulli_composite_keys_never_alias(spark):
    """VERDICT-r6 directive #3: fields are length-prefixed
    ('<len>:<value>') before the '_' join, so distinct composite keys
    always produce distinct coin inputs — previously ('a_b','c') and
    ('a','b_c') joined to the same string and shared one coin."""
    from pyspark.sql import functions as F

    from hillview_spark.operators import sampling

    pairs = [
        ("a_b", "c"), ("a", "b_c"),      # the classic alias
        ("", "_"), ("_", ""),            # empty vs underscore fields
        ("1_2:3", "x"), ("1", "2:3_x"),  # prefix chars inside values
    ]
    df = spark.createDataFrame(pairs, "x string, y string")
    coins = df.select(
        "x", "y",
        sampling.salted_hash(
            F.concat_ws(
                "_", sampling._len_prefixed("x"), sampling._len_prefixed("y")
            ),
            "bern42",
        ).alias("h"),
    ).collect()
    hashes = [r.h for r in coins]
    assert len(set(hashes)) == len(pairs), "composite keys aliased"

    # the DuckDB twin of the recipe (entry _bern_sql) draws the SAME
    # coin per row even for underscore-laden string keys
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("t", pd.DataFrame(pairs, columns=["x", "y"]))
    oracle = {
        (x, y): h
        for x, y, h in con.sql(
            """
            SELECT x, y,
                   CAST(('0x' || substr(md5(
                       (CAST(LENGTH(CAST(x AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(x AS VARCHAR))
                       || '_' ||
                       (CAST(LENGTH(CAST(y AS VARCHAR)) AS VARCHAR)
                        || ':' || CAST(y AS VARCHAR))
                       || '_bern42'), 1, 7)) AS BIGINT) AS h
            FROM t
            """
        ).fetchall()
    }
    assert {(r.x, r.y): r.h for r in coins} == oracle


def test_heavy_hitters_sampled_portable_key_matches_exact(spark, tables):
    from hillview_spark.operators import heavy_hitters

    li = tables["lineitem"]
    exact = {
        tuple(r)[:-1]: r.cnt
        for r in heavy_hitters.heavy_hitters(li, ["l_returnflag"], 0.2).collect()
    }
    runs = []
    for _ in range(2):
        runs.append(
            {
                tuple(r)[:-1]: r.cnt
                for r in heavy_hitters.heavy_hitters_sampled(
                    li, ["l_returnflag"], 0.2,
                    sample_key=["l_orderkey", "l_linenumber"],
                ).collect()
            }
        )
    assert runs[0] == runs[1] == exact  # deterministic AND correct


def test_corr_matrix_sampled_portable_deterministic(spark, tables):
    from hillview_spark.operators import correlation

    li = tables["lineitem"]
    kw = dict(
        sample_fraction=0.5, sample_key=["l_orderkey", "l_linenumber"]
    )
    cols = ["l_quantity", "l_extendedprice"]
    a = {
        (r.col_x, r.col_y): r.corr
        for r in correlation.corr_matrix(li, cols, **kw).collect()
    }
    b = {
        (r.col_x, r.col_y): r.corr
        for r in correlation.corr_matrix(li, cols, **kw).collect()
    }
    assert a == b
    full = {
        (r.col_x, r.col_y): r.corr
        for r in correlation.corr_matrix(li, cols).collect()
    }
    for k in full:  # half-sample estimate tracks the population value
        assert abs(a[k] - full[k]) < 0.05
    assert a[("l_quantity", "l_quantity")] == pytest.approx(1.0)


def test_basic_col_stats_fast_path_matches_exact(spark, tables):
    """exact=False (the reference's own double-moment semantics,
    BasicColStatSketch.java:31) must agree with the exact-decimal
    path to float tolerance — same schema, same rows, values within
    the rounding the operator already applies."""
    from hillview_spark.operators import stats

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    li = tables["lineitem"]
    exact = {r.col_name: r for r in stats.basic_col_stats(li, cols).collect()}
    fast = {
        r.col_name: r
        for r in stats.basic_col_stats(li, cols, exact=False).collect()
    }
    assert set(exact) == set(fast)
    for c in cols:
        e, f = exact[c], fast[c]
        assert (e.present_count, e.missing_count) == (f.present_count, f.missing_count)
        assert (e.min_val, e.max_val) == (f.min_val, f.max_val)
        assert f.sum_val == pytest.approx(e.sum_val, rel=1e-9)
        assert f.mean_val == pytest.approx(e.mean_val, abs=2e-6)
        assert f.stddev_val == pytest.approx(e.stddev_val, abs=2e-4)
