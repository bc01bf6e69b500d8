"""Column statistics / summary sketches.

Reference semantics:
- sketches/BasicColStatSketch.java:31 — per-column presence count,
  missing count, min, max, and moments (mean, stddev).
- sketches/SummarySketch.java — schema + row count.
- sketches/HLogLogSketch.java:30 — approximate distinct count.
- sketches/DistinctStringsSketch.java / SampleDistinctElementsSketch
  — distinct value sets.
- sketches/SampleQuantileSketch.java:39 / HistogramQuantilesSketch —
  quantiles for the sorted spreadsheet scrollbar.
- sketches/CounterSketch.java — row count.

All are single-scan aggregations with map-side combine → O(1)-ish
results; exactly Spark's partial-aggregate execution of groupBy-less
``agg``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hillview_spark import cache, numeric
from hillview_spark.operators.histogram import _finite as _hist_finite


def row_count(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias("row_count"))


def table_summary(df: DataFrame) -> DataFrame:
    """Schema + row count (SummarySketch). One row per column so the
    result is a DataFrame (driver-friendly). Lazy: the count rides a
    broadcast 1-row aggregate instead of an eager count() action, so
    building the summary costs nothing until it is collected."""
    from hillview_spark.localrel import local_df

    spec = local_df(
        df.sparkSession, list(df.dtypes), "col_name string, col_type string"
    )
    cnt = df.agg(F.count(F.lit(1)).alias("row_count"))
    return spec.join(F.broadcast(cnt)).select(
        "col_name", "col_type", "row_count"
    )


def basic_col_stats(
    df: DataFrame,
    cols: list[str],
    ndigits: int = 4,
    exact: bool = True,
) -> DataFrame:
    """BasicColStatSketch: one output row per column with presence,
    missing, min, max, sum, mean, stddev (sample). Computed as a
    single wide aggregate (one scan for all columns), then unpivoted
    driver-side — the aggregate result is 1 row, so the unpivot is
    free.

    Sums go through DECIMAL so they are exact and order-independent
    (reproducible across partitionings and engines); mean and stddev
    are then pure double arithmetic on those exact sums.

    Exactness envelope: values are rounded to ``scale`` (default 4)
    decimal digits and must satisfy |x| < 10^14 — the square is
    computed on DECIMAL(18,scale) operands so its product
    DECIMAL(37,2*scale) stays under Spark's precision-38 cap (a wider
    operand would make Spark silently drop scale digits at the cap).
    Columns beyond that envelope (raw nanosecond epochs, 15+-digit
    keys) should be rescaled first. The plain sum uses DECIMAL(28,
    scale) operands, good for ~10^24 in the accumulator. stddev's
    final subtraction runs in double, so when |mean| >> stddev the
    moment-formula cancellation costs relative precision (~1e-3 at
    mean/sd ~ 10^7) — sums and means stay exact regardless.

    exact=False is the REFERENCE's own semantics — BasicColStatSketch
    (BasicColStatSketch.java:31) accumulates plain doubles — and the
    throughput path: ~9x faster at sf0.1 (0.16s vs 1.50s, four
    columns) because the per-row math stays in native double instead
    of 128-bit decimal. The price is reduction-order dependence in
    the last ulp (not reproducible bit-for-bit across partitionings
    or engines), so the oracle gate pins the exact path and the fast
    path is tolerance-tested against it.
    """
    scale = 4
    aggs = []
    # present = FINITE for float/double columns (NaN/±Inf are
    # missing — the engine-wide rule, hillview_spark.numeric):
    # a single NaN would otherwise poison min/max and raise on
    # the decimal casts; ±Inf would poison the sums. One schema
    # fetch for the whole width.
    fin = numeric.finite_values(df, cols)
    for c in cols:
        vc = fin[c]
        if exact:
            dec = vc.cast(f"decimal(28,{scale})")
            dsq = vc.cast(f"decimal(18,{scale})")
        else:
            dec = dsq = vc.cast("double")
        n = F.count(vc)
        s = F.sum(dec).cast("double")
        sq = F.sum(dsq * dsq).cast("double")
        aggs += [
            n.alias(f"{c}__present"),
            F.coalesce(
                F.sum(F.when(vc.isNull(), 1).otherwise(0)), F.lit(0)
            ).alias(f"{c}__missing"),
            F.round(F.min(vc).cast("double"), ndigits).alias(f"{c}__min"),
            F.round(F.max(vc).cast("double"), ndigits).alias(f"{c}__max"),
            s.alias(f"{c}__sum"),
            F.round(s / n, 6).alias(f"{c}__mean"),
            # n > 1 guard: ANSI mode (Spark 4 default) turns the
            # (n - 1) division into DIVIDE_BY_ZERO for single-value
            # columns; DuckDB's stddev_samp is NULL there too.
            # greatest(.., 0): the moment formula cancels to a TINY
            # NEGATIVE for constant columns (e.g. constant 0.1, n=2
            # -> -3.5e-18) and sqrt(negative) is NaN where
            # stddev_samp/DuckDB return 0.0.
            F.when(
                n > 1,
                F.round(
                    F.sqrt(
                        F.greatest((sq - s * s / n) / (n - F.lit(1)), F.lit(0.0))
                    ),
                    ndigits,
                ),
            ).alias(f"{c}__stddev"),
        ]
    wide = df.agg(*aggs)
    stack_args = []
    for c in cols:
        stack_args.append(
            (
                F.lit(c),
                F.col(f"{c}__present"),
                F.col(f"{c}__missing"),
                F.col(f"{c}__min"),
                F.col(f"{c}__max"),
                F.col(f"{c}__sum"),
                F.col(f"{c}__mean"),
                F.col(f"{c}__stddev"),
            )
        )
    structs = F.array(
        *[
            F.struct(
                a[0].alias("col_name"),
                a[1].alias("present_count"),
                a[2].alias("missing_count"),
                a[3].alias("min_val"),
                a[4].alias("max_val"),
                a[5].alias("sum_val"),
                a[6].alias("mean_val"),
                a[7].alias("stddev_val"),
            )
            for a in stack_args
        ]
    )
    return wide.select(F.explode(structs).alias("s")).select("s.*")


def table_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass profile of many columns at once: presence, missing,
    and exact distinct counts per column — the load-time "data
    dialog" Hillview shows. This is the Spark realization of the
    reference's sketch *combinators* (sketches/highorder/
    ConcurrentSketch.java, MultiSketch.java): N sketches fused into
    a single scan as one wide aggregate.

    present = FINITE for float/double columns (the engine-wide
    missing rule, hillview_spark.numeric — r10 review: the profile
    counted NaN rows present and NaN as a distinct value while
    basic_col_stats counted the same rows missing; the load-time
    dialog and the column-stats view must agree)."""
    fin = numeric.finite_values(df, cols)
    aggs = []
    for c in cols:
        vc = fin[c]
        aggs += [
            F.count(vc).alias(f"{c}__present"),
            F.sum(F.when(vc.isNull(), 1).otherwise(0)).alias(f"{c}__missing"),
            F.countDistinct(vc).alias(f"{c}__distinct"),
        ]
    wide = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__present").alias("present_count"),
                F.col(f"{c}__missing").alias("missing_count"),
                F.col(f"{c}__distinct").alias("distinct_count"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(structs).alias("s")).select("s.*")


def distinct_count(df: DataFrame, col: str) -> DataFrame:
    """Exact distinct count. Spark executes this as a two-stage
    partial-distinct then count — the exact analogue of merging
    per-partition distinct sets."""
    return df.agg(F.countDistinct(col).alias("distinct_count"))


def distinct_count_approx(df: DataFrame, col: str, rsd: float = 0.05) -> DataFrame:
    """HyperLogLog++ distinct count (HLogLogSketch). Mergeable sketch
    per partition, merged JVM-side."""
    return df.agg(F.approx_count_distinct(col, rsd).alias("distinct_count_approx"))


def distinct_values(df: DataFrame, col: str, limit: int = 1000) -> DataFrame:
    """Distinct value list (DistinctStringsSketch). Bounded by limit
    so the driver result stays small; ordered for determinism."""
    return (
        df.select(F.col(col).alias("value"))
        .where(F.col("value").isNotNull())
        .distinct()
        .orderBy("value")
        .limit(limit)
    )


def num_items_threshold(df: DataFrame, col: str, threshold: int) -> DataFrame:
    """Is the distinct-item count at or above a threshold?
    (sketches/NIThresholdSketch.java — Hillview uses it to pick
    between exact-value and boundary string bucketings.) Genuinely
    capped: distinct + LIMIT threshold lets Spark stop collecting
    once the decision point is reached (LocalLimit short-circuits
    each partition) instead of counting every distinct value —
    equivalent to countDistinct >= threshold, cheaper when the
    column is far above the threshold."""
    capped = (
        df.select(F.col(col))
        .where(F.col(col).isNotNull())
        .distinct()
        .limit(threshold)
    )
    return capped.agg(
        (F.count(F.lit(1)) >= F.lit(threshold)).alias("above_threshold")
    )


def string_quantiles(df: DataFrame, col: str, k: int) -> DataFrame:
    """Left bucket boundaries over the sorted distinct values of a
    string column (sketches/results/StringQuantiles.java): boundary i
    is the smallest value of rank-bucket i of k equal-rank buckets.
    Hillview computes these to build StringHistogramBuckets when
    cardinality exceeds the bucket budget.

    Scale shape: global rank WITHOUT a single-partition sort — see
    global_rank. Integer-division bucket math keeps both engines
    bit-identical."""
    d = (
        df.select(F.col(col).alias("value"))
        .where(F.col("value").isNotNull())
        .distinct()
    )
    ranked = global_rank(d, ["value"])
    return (
        ranked.select(
            F.expr(f"CAST((rnk * {k}) DIV n AS INT)").alias("bucket"), "value"
        )
        .groupBy("bucket")
        .agg(F.min("value").alias("boundary"))
    )


def global_rank(
    d: DataFrame, order_cols: list[str], keep_cols: list[str] | None = None
) -> DataFrame:
    """Dense 0-based global rank of each (assumed-distinct) row under
    a lexicographic RecordOrder, plus the total count n — WITHOUT a
    single-partition sort.

    The rows are range-partitioned on the order columns
    (RangePartitioner guarantees partition i sorts entirely before
    partition i+1), each partition ranks locally in parallel (window
    partitioned by spark_partition_id), and the prior-partition
    counts are added as offsets. The per-partition counts form a
    tiny (num-partitions-row) relation, so its prefix-sum window and
    the broadcast join back are O(partitions), not O(rows).

    Returns the order columns (plus any ``keep_cols`` payload
    columns, carried through the rank untouched) with ``rnk`` (long)
    and ``n`` (long).
    """
    parts = max(4, int(d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")) // 2)
    # localCheckpoint, not persist: the pid-tagged relation feeds both
    # the offsets aggregate and the ranking join, and the pid column
    # must be IDENTICAL in both references. A persist() only caches —
    # eviction (or an external release_all) would silently recompute
    # one side and the two evaluations could range-partition onto
    # different pids (wrong ranks). The checkpoint truncates lineage
    # so recomputation is impossible; lazy (eager=False) keeps the
    # operator's construction free of jobs. The block storage is
    # registered with the cache registry so release_all() frees it
    # after results are materialized (a premature release fails the
    # pending query loudly — it can never yield wrong ranks).
    # the RECORD order (missing is GREATEST — _reference_order's
    # rule): NULLs rank last ascending. The range partitioner and the
    # local window MUST use the same ordering or a NULL-bearing row
    # lands in a partition whose offset disagrees with its local rank
    # (r10: the pre-fix plain-column order was nulls-FIRST, but no
    # caller passed NULL rows then — row_quantiles now does).
    order_exprs = [F.col(c).asc_nulls_last() for c in order_cols]
    tagged = (
        d.repartitionByRange(parts, *order_exprs)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    cache.track(cache.LocalCheckpointHandle(tagged))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        tagged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            "__pid",
            F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__offset"),
            F.sum("__cnt").over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ).alias("n"),
        )
    )
    wlocal = Window.partitionBy("__pid").orderBy(*order_exprs)
    return (
        tagged.join(F.broadcast(offsets), "__pid")
        .select(
            *order_cols,
            *(keep_cols or []),
            (F.row_number().over(wlocal) - 1 + F.col("__offset")).alias("rnk"),
            "n",
        )
    )


def row_quantiles(df: DataFrame, sort_cols: list[str], k: int) -> DataFrame:
    """Quantile boundary ROW TUPLES under a multi-column RecordOrder —
    what drives proportional scroll-to-position over a sorted
    spreadsheet view (sketches/SampleDistinctRowsSketch.java:44:
    MinKSet over RowSnapshots; here exact, via distributed ranking).

    Output: one row per rank-bucket with the bucket's smallest tuple
    (min_by on the global rank — the rank is unique, so min_by is
    deterministic and engine-portable).

    NULL-bearing tuples RANK, they don't drop (r10 review): the
    spreadsheet record order sorts missing GREATEST (_reference_
    order), so next_k pages reach the NULL tail — boundaries computed
    over only the present tuples would land the proportional scroll
    ~2x off past the midpoint on a half-NULL column and make the
    tail unreachable. min_by carries the whole tuple as a STRUCT
    (never NULL even when its fields are), so a NULL field in a
    boundary row survives on both engines — a bare min_by(col, rnk)
    would skip it."""
    d = df.select(*sort_cols).distinct()
    ranked = global_rank(d, sort_cols)
    return (
        ranked.select(
            F.expr(f"CAST((rnk * {k}) DIV n AS INT)").alias("bucket"),
            F.struct(*sort_cols).alias("__t"),
            "rnk",
        )
        .groupBy("bucket")
        .agg(F.min_by("__t", F.col("rnk")).alias("__t"))
        .select(
            "bucket", *[F.col(f"__t.{c}").alias(c) for c in sort_cols]
        )
    )


def quantiles(
    df: DataFrame, col: str, probs: list[float], ndigits: int = 4
) -> DataFrame:
    """Exact interpolated quantiles (matches SQL percentile_cont /
    DuckDB quantile_cont). Hillview's SampleQuantileSketch trades
    exactness for one pass; Spark's `percentile` is also a single
    pass with bounded state at these cardinalities. For truly massive
    columns use quantiles_approx below."""
    exprs = [
        F.round(F.expr(f"percentile(`{col}`, {p})"), ndigits).alias(_q_alias(p))
        for p in probs
    ]
    return df.where(_hist_finite(df, col)).agg(*exprs)


def _q_alias(p: float) -> str:
    """q50-style alias, extended past whole percents (q2_5 for 0.025)
    so sub-percent probs don't collide into duplicate column names."""
    pct = p * 100
    if pct == int(pct):
        return f"q{int(pct):02d}"
    return "q" + f"{pct:g}".replace(".", "_")


def quantiles_approx(
    df: DataFrame, col: str, probs: list[float], accuracy: int = 10000
) -> DataFrame:
    """Approximate quantiles via Greenwald-Khanna style sketch
    (percentile_approx) — the 100 TB path, mergeable per partition."""
    plist = ", ".join(str(p) for p in probs)
    return df.where(_hist_finite(df, col)).agg(
        F.expr(
            f"percentile_approx(`{col}`, array({plist}), {accuracy})"
        ).alias("quantiles")
    )
