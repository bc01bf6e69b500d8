"""Event-stream analytics: windowed aggregation and sessionization,
in both batch form (oracle-checkable) and Structured Streaming form
(watermarks, incremental state).

Batch and stream share semantics: a tumbling window over event time.
The batch variant is what the DuckDB oracle verifies; the stream
variant is the same logical plan under ``readStream`` with a
watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hillview_spark import numeric


def _event_time_stream(
    spark: SparkSession, events_dir: str, schema
) -> DataFrame:
    """File-stream source with `ts` normalized to TIMESTAMP (with-TZ),
    the only event-time type ``withWatermark`` accepts. Handles both
    fixture encodings: `bigint` nanoseconds (exact integer div to
    micros) and `timestamp_ntz` (parquet readers infer NTZ when
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` is on; the session
    TZ is pinned UTC in session.py, so ``to_utc_timestamp(ts, 'UTC')``
    is a pure type change — no instant shifts)."""
    stream = spark.readStream.schema(schema).parquet(events_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        # floor-division to micros via pmod: `div` truncates toward
        # zero, which would shift pre-epoch nanos up by as much as
        # 1us across a window boundary; double division would lose
        # precision above 2^53 ns
        stream = stream.withColumnRenamed("ts", "ts_ns").withColumn(
            "ts", F.timestamp_micros(F.expr("(ts_ns - pmod(ts_ns, 1000)) div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn(
            "ts", F.to_utc_timestamp(F.col("ts"), "UTC")
        )
    return stream


def windowed_counts(events: DataFrame, unit: str = "hour") -> DataFrame:
    """Tumbling-window event counts and value sums per event type.
    events.value is exact to 6 decimals → DECIMAL sum is lossless and
    order-independent."""
    from hillview_spark.operators.histogram import trunc_ntz

    return (
        events.groupBy(
            trunc_ntz(F.col("ts"), unit).alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # NaN/±Inf readings are missing (hillview_spark.numeric):
            # the DECIMAL cast would otherwise be job-fatal under ANSI
            F.sum(numeric.finite_value(events, "value").cast("decimal(18,6)"))
            .cast("double").alias("sum_value"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the gap
    since the previous event exceeds gap_minutes. Two window passes
    over data partitioned by user — shuffle once on user_id, both
    windows reuse that partitioning (no second shuffle)."""
    # NULL event time has no position on a session timeline — and the
    # engines disagree on where NULLs SORT inside the window (Spark
    # NULLS FIRST vs DuckDB NULLS LAST), which would renumber every
    # session around them. Drop them, like the streaming twin's
    # watermark and the windowed twins already do.
    events = events.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Microsecond-exact, timezone-free gap (cast-to-long truncates to
    # seconds; unix_micros on NTZ would re-enter the session TZ).
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
        " ts)"
    )
    gap = us - F.lag(us).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1
    ).otherwise(0)
    wcum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sessions = events.select(
        "user_id", "ts", "event_id", F.sum(new_session).over(wcum).alias("session_id")
    )
    from hillview_spark.operators.histogram import trunc_ntz

    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        trunc_ntz(F.min("ts"), "second").alias("session_start"),
        trunc_ntz(F.max("ts"), "second").alias("session_end"),
    )


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    schema,
    gap_minutes: int = 30,
    timeout: str = "event",
    idle_flush_seconds: int = 60,
) -> DataFrame:
    """Custom stateful streaming operator: gap-based sessionization
    with applyInPandasWithState. Per-user state carries the open
    session (start, last event time, count); a session is emitted
    when a gap larger than gap_minutes closes it, and idle sessions
    are FLUSHED by a state timeout.

    timeout='event' (default): flush when the event-time watermark
    passes last_event + gap — exact session semantics, but the
    watermark only advances when LATER DATA arrives, so if the whole
    source goes permanently silent the final open session per user
    stays in state unflushed (inherent to Spark's watermark model).

    timeout='processing': flush after idle_flush_seconds of WALL
    CLOCK with no events for the user — sessions drain even when the
    source goes silent (the end-of-stream completeness case). The
    trade-off is that a quiet-but-alive user's session can flush
    early and a late in-gap event then opens a new session instead
    of extending; size idle_flush_seconds above the expected
    source-silence tolerance.

    Either way this is the Structured Streaming twin of
    sessionize() — state is O(active users), not O(events).

    Ordering: all of a group's rows in the micro-batch are gathered
    and sorted ONCE before the scan — Arrow delivers the group as
    multiple chunks in arbitrary order, and per-chunk sorting would
    let a late chunk move the session clock backwards. An in-gap
    out-of-order event (possible across micro-batches up to the
    watermark delay) joins the open session without rewinding it.

    events_dir must be a directory (file-stream source requirement).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType, StructField, StructType, TimestampType,
    )

    gap_us = gap_minutes * 60 * 1_000_000

    out_type = StructType([
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ])
    state_type = StructType([
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("count", LongType()),
    ])

    def _frame(rows):
        # emitted bounds truncate to whole seconds, matching the batch
        # twin's trunc_ntz(min/max ts, 'second') (r9 review: the twins
        # diverged on sub-second event times; the GAP logic above
        # stays microsecond-exact — only the report truncates).
        # Python %-floor handles pre-epoch negatives like date_trunc.
        sec = lambda us: us - us % 1_000_000
        return pd.DataFrame(
            {
                "user_id": [c[0] for c in rows],
                "session_start": [
                    pd.Timestamp(sec(c[1]), unit="us") for c in rows
                ],
                "session_end": [
                    pd.Timestamp(sec(c[2]), unit="us") for c in rows
                ],
                "n_events": [c[3] for c in rows],
            }
        )

    if timeout not in ("event", "processing"):
        raise ValueError("timeout must be 'event' or 'processing'")
    use_event = timeout == "event"

    def fn(key, pdfs, state: "GroupState"):
        user_id = key[0]
        if state.hasTimedOut:
            # event mode: the watermark passed last_event + gap;
            # processing mode: the user went wall-clock idle. Either
            # way the open session flushes and the state drops.
            (start_us, last_us, count) = state.get
            state.remove()
            yield _frame([(user_id, start_us, last_us, count)])
            return
        (start_us, last_us, count) = state.get if state.exists else (None, None, 0)
        # one global sort over the whole batch for this group. NaT
        # (NULL event time) drops: int(NaT) is the int64-min sentinel,
        # which would open a garbage year-1677 session and inflate
        # counts — NULL-ts rows are a batch-twin-only capability
        # (stream event time requires a real timestamp).
        ts_all = (
            pd.concat([pdf["ts"] for pdf in pdfs]).dropna().sort_values()
        )
        closed = []
        for t in ts_all:
            us = int(t.value // 1000)  # pandas ns -> us
            if last_us is None:
                start_us, last_us, count = us, us, 1
            elif us - last_us > gap_us:
                closed.append((user_id, start_us, last_us, count))
                start_us, last_us, count = us, us, 1
            else:
                # in-gap event; never move the session clock backwards
                last_us, count = max(last_us, us), count + 1
        if last_us is None:
            # every row in the batch was NaT and no session is open
            # (last_us can only be None when state didn't exist):
            # storing (None, None, 0) would arm a timeout that later
            # flushes a phantom (user, NULL, NULL, 0) session row
            # (r9 review find — timeout='processing' has no watermark,
            # so NaT rows DO reach this fn)
            return
        state.update((start_us, last_us, count))
        if use_event:
            # flush when the event-time watermark passes the gap
            # horizon (must stay above the current watermark or Spark
            # rejects it)
            timeout_ms = max(
                last_us // 1000 + gap_minutes * 60 * 1000,
                state.getCurrentWatermarkMs() + 1,
            )
            state.setTimeoutTimestamp(timeout_ms)
        else:
            state.setTimeoutDuration(idle_flush_seconds * 1000)
        if closed:
            yield _frame(closed)

    stream = _event_time_stream(spark, events_dir, schema)
    grouped = stream.select("user_id", "ts")
    if use_event:
        grouped = grouped.withWatermark("ts", f"{gap_minutes} minutes")
        mode = GroupStateTimeout.EventTimeTimeout
    else:
        mode = GroupStateTimeout.ProcessingTimeTimeout
    return grouped.groupBy("user_id").applyInPandasWithState(
        fn, out_type, state_type, "append", mode
    )


def stream_windowed_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Structured Streaming variant: file stream → watermark →
    tumbling window counts. Late events beyond the watermark are
    dropped; state is bounded. Drive with
    .writeStream.trigger(availableNow=True) in tests.

    events_dir must be a DIRECTORY (Spark file-stream source
    requirement) — symlink single parquet files into a temp dir.
    """
    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )


def dp_windowed_counts(
    events: DataFrame,
    unit: str = "hour",
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Differentially-private tumbling-window event counts — the
    continual-release setting the binary mechanism was built for
    (Chan, Song, Shi TISSEC '11, cited at IntervalDecomposition.
    java:29-31). Each event falls in exactly one (window, type) cell,
    so adding one independent Laplace(1/epsilon) draw per cell is
    epsilon-DP by parallel composition. Noise is a pure Catalyst
    expression keyed by the cell (privacy.laplace_noise_col), so the
    SAME formula runs unchanged over a stream; for noisy PREFIX
    counts over time use dp_histogram(cdf=True), which pays only
    O(log T) noise via the k-adic tree. Event-level adjacency; for
    USER-level protection compose bound_contributions first — see
    dp_windowed_counts_user_level and its adjacency table."""
    # NULL ts -> NULL window: the streaming twin's watermark drops
    # event-time-less rows entirely, so the batch release must too or
    # the twins (and the DuckDB oracle) diverge on NULL-ts input —
    # same rule dp_prefix_counts already applies.
    counts = (
        windowed_counts(events, unit)
        .drop("sum_value")
        .where(F.col("window_start").isNotNull())
    )
    return _noisy_counts(counts, epsilon, seed)


def stream_dp_windowed_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of dp_windowed_counts: watermarked tumbling
    windows whose counts are perturbed by the same cell-keyed
    Catalyst noise expression — each window's noise is derivable the
    moment the watermark closes it, with no driver-side window
    enumeration, so the private release streams incrementally. Drive
    with outputMode('append') so each cell is released exactly once
    (re-emitting a cell with fresh noise would burn budget)."""
    counts = stream_windowed_counts(
        spark, events_dir, schema, window_duration, watermark
    )
    return _noisy_counts(counts, epsilon, seed)


def _noisy_counts(
    counts: DataFrame, epsilon: float, seed: int, tag: str = "wcounts"
) -> DataFrame:
    """ONE noisy-release select shared by the batch and streaming
    twins — the twins must stay bit-identical for the DP/oracle
    contract, so there is exactly one copy of the floor(c+n+0.5)
    rounding and the cell-noise expression. `tag` is the PRF domain
    tag: dp_windowed_counts_user_level releases under its own tag
    ('uwcnt') because publishing the capped and uncapped releases
    under one seed WITH a shared tag would give both the same
    per-cell draw — subtracting them would reveal the exact count
    delta the cap removed, noise-free (the SPECIAL_MEAN_SUM /
    'wmsum'-vs-'wmcnt' collision class)."""
    from hillview_spark.operators.privacy import noisy_round

    noise = _cell_noise(epsilon, seed, tag, "window_start", "event_type")
    return counts.select(
        "window_start",
        "event_type",
        noisy_round(F.col("n_events"), noise).alias("noisy_events"),
    )


def _clipped_value(events: DataFrame, col: str, lo: float, hi: float):
    """Clip-or-skip for the bounded-sum releases: a present FINITE
    value clamps to [lo, hi]; NULL/NaN/±Inf become NULL, which the
    SUM skips — arithmetically identical to privacy.dp_sum's
    contribute-zero rule (a COALESCE(..., 0) at the aggregate closes
    the all-missing-cell case). The presence gate wraps the WHOLE
    clamp: Spark's greatest() SKIPS NULL arguments, so a bare
    greatest(NULL, lo) would smuggle lo into the sum for every
    missing value."""
    c = F.col(col)
    return F.when(
        c.isNotNull() & numeric.finite_pred(c),
        F.least(
            F.greatest(c.cast("double"), F.lit(float(lo))),
            F.lit(float(hi)),
        ),
    )


def dp_windowed_sum(
    events: DataFrame,
    unit: str = "hour",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 250.0,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Continual bounded-SUM release — dp_windowed_counts' sibling
    for the value dimension (noisy revenue/latency per hour per
    type), completing the continual family: counts, histogram, sum.
    Per (window, type) cell: the clipped-contribution sum (clamp to
    [lo, hi], NULL/non-finite contribute nothing — privacy.dp_sum's
    rule) plus one Laplace(max(|lo|,|hi|)/epsilon) draw keyed on the
    portable md5 PRF under the 'wsum' domain tag. Each event lands
    in exactly one cell, so parallel composition gives epsilon-DP.

    The release is floor(sum + noise + 0.5) — an INTEGER, on
    purpose: the noise scale is >= hi (one whole contribution), so
    sub-unit precision is pure noise anyway, and the integer release
    is what absorbs laplace_noise_col's documented <=1-ulp
    cross-library LN drift (the same contract that lets the noisy
    COUNTS hash-match in DuckDB).

    Scale: one groupBy shuffle to O(windows x types) cells; the
    noise is a codegen'd per-cell expression, so the same formula
    streams (see stream_dp_windowed_sum)."""
    from hillview_spark.operators.histogram import trunc_ntz

    sums = (
        events.groupBy(
            trunc_ntz(F.col("ts"), unit).alias("window_start"),
            "event_type",
        )
        .agg(
            F.coalesce(
                F.sum(_clipped_value(events, col, lo, hi)
                      .cast("decimal(20,6)")),
                F.lit(0),
            ).cast("double").alias("sum_clipped")
        )
        .where(F.col("window_start").isNotNull())
    )
    return _noisy_sums(sums, lo, hi, epsilon, seed)


def stream_dp_windowed_sum(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 250.0,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of dp_windowed_sum: watermarked tumbling
    windows whose clipped value sums are perturbed by the same
    cell-keyed noise expression — each window's release is derivable
    the moment the watermark closes it. Drive with
    outputMode('append') so each cell is released exactly once."""
    stream = _event_time_stream(spark, events_dir, schema)
    sums = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.coalesce(
                F.sum(_clipped_value(stream, col, lo, hi)
                      .cast("decimal(20,6)")),
                F.lit(0),
            ).cast("double").alias("sum_clipped")
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "sum_clipped",
        )
    )
    return _noisy_sums(sums, lo, hi, epsilon, seed)


def _noisy_sums(
    sums: DataFrame, lo: float, hi: float, epsilon: float, seed: int
) -> DataFrame:
    """ONE noisy-sum release select shared by the batch and streaming
    twins (the _noisy_counts discipline): the Laplace scale is
    sensitivity/epsilon with sensitivity max(|lo|, |hi|), keyed under
    the 'wsum' domain tag so this release never shares a draw with
    the 'wcounts'/'whist' mechanisms at the same seed."""
    from hillview_spark.operators.privacy import noisy_round

    noise = _cell_noise(
        epsilon, seed, "wsum", "window_start", "event_type",
        sensitivity=max(abs(float(lo)), abs(float(hi))),
    )
    return sums.select(
        "window_start",
        "event_type",
        noisy_round(F.col("sum_clipped"), noise).alias("noisy_sum"),
    )


def dp_windowed_mean(
    events: DataFrame,
    unit: str = "hour",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 250.0,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Continual bounded-MEAN release (r13) — the ratio composition
    of the gated sum and count mechanisms, per (window, type) cell:
    half the budget to the clipped-contribution sum (privacy.dp_mean's
    construction, applied cell-wise), half to the cell's row count.
    Each event lands in exactly one cell, so parallel composition
    across cells plus basic composition of the two halves gives
    epsilon-DP overall. The count counts ALL the cell's rows
    (NULL/non-finite values contribute nothing to the sum but ARE
    rows — the same population both components describe; NULL-ts rows
    drop, the family's watermark rule).

    The two draws are keyed under dp_windowed_mean's OWN domain tags
    ('wmsum' / 'wmcnt') so no draw is ever shared with the
    'wsum'/'wcounts'/'whist' mechanisms at the same seed — the
    discipline the batch dp_mean learned in r13 (its shared
    SPECIAL_SUM bucket made the (dp_sum, dp_mean) pair 0-DP).
    Components release as floor(x + 0.5) integers (the family-wide
    LN-drift absorber); noisy_mean is their exact IEEE ratio, NULL
    when the noisy count lands <= 0.

    Scale: one groupBy shuffle to O(windows x types) cells computing
    both aggregates; noise is a codegen'd per-cell expression, so the
    same formula streams (see stream_dp_windowed_mean)."""
    from hillview_spark.operators.histogram import trunc_ntz

    cells = (
        events.groupBy(
            trunc_ntz(F.col("ts"), unit).alias("window_start"),
            "event_type",
        )
        .agg(
            F.coalesce(
                F.sum(_clipped_value(events, col, lo, hi)
                      .cast("decimal(20,6)")),
                F.lit(0),
            ).cast("double").alias("sum_clipped"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .where(F.col("window_start").isNotNull())
    )
    return _noisy_means(cells, lo, hi, epsilon, seed)


def stream_dp_windowed_mean(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 250.0,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of dp_windowed_mean: watermarked tumbling
    windows whose clipped sums and row counts are perturbed by the
    same cell-keyed noise expressions — each window's release is
    derivable the moment the watermark closes it. Drive with
    outputMode('append') so each cell is released exactly once."""
    stream = _event_time_stream(spark, events_dir, schema)
    cells = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(
            F.coalesce(
                F.sum(_clipped_value(stream, col, lo, hi)
                      .cast("decimal(20,6)")),
                F.lit(0),
            ).cast("double").alias("sum_clipped"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "sum_clipped",
            "n_events",
        )
    )
    return _noisy_means(cells, lo, hi, epsilon, seed)


def _noisy_means(
    cells: DataFrame, lo: float, hi: float, epsilon: float, seed: int
) -> DataFrame:
    """ONE noisy-mean release select shared by the batch and
    streaming twins (the _noisy_counts discipline): the sum half at
    Laplace(2 * sensitivity / epsilon) under 'wmsum', the count half
    at Laplace(2 / epsilon) under 'wmcnt' — each mechanism's own
    domain tags, never shared with 'wsum'/'wcounts'/'whist'."""
    from hillview_spark.operators.privacy import _check_epsilon, noisy_round

    _check_epsilon(epsilon)  # report the caller's epsilon, not its half
    half = epsilon / 2.0
    sum_noise = _cell_noise(
        half, seed, "wmsum", "window_start", "event_type",
        sensitivity=max(abs(float(lo)), abs(float(hi))),
    )
    cnt_noise = _cell_noise(half, seed, "wmcnt", "window_start", "event_type")
    return cells.select(
        "window_start",
        "event_type",
        noisy_round(F.col("sum_clipped"), sum_noise).alias("noisy_sum"),
        noisy_round(F.col("n_events"), cnt_noise).alias("noisy_count"),
    ).withColumn(
        "noisy_mean",
        F.when(
            F.col("noisy_count") > 0,
            F.col("noisy_sum").cast("double")
            / F.col("noisy_count").cast("double"),
        ),
    )


def dp_windowed_distinct(
    events: DataFrame,
    unit: str = "hour",
    col: str = "user_id",
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Continual DISTINCT-entity release (r13) — private DAU: noisy
    distinct entities per (window, type) cell, finishing the
    continual family (counts, histogram, sum, mean, distinct). At
    EVENT-level adjacency (the family's granularity — stated
    explicitly because distinct counts make the distinction bite:
    removing one EVENT moves a cell's distinct count by at most 1,
    so one Laplace(1/epsilon) draw per cell under the 'wdist' domain
    tag is epsilon-DP by parallel composition; USER-level adjacency
    needs a per-user contribution bound first, since one user can
    touch every window — compose bound_contributions BEFORE this
    release and read dp_windowed_counts_user_level's adjacency table
    for the resulting k/max_windows scaling, which applies verbatim
    to every release in the family). NULL entities are skipped by
    countDistinct in both engines, and NULL event times drop (the
    family's watermark rule).

    Scale: one shuffle whose state is the per-cell distinct set —
    bounded by entities per window, not events (map-side partial
    dedup); the noise is a codegen'd per-cell expression, so the
    same formula streams (stream_dp_windowed_distinct)."""
    cells = windowed_distinct(events, unit, col).where(
        F.col("window_start").isNotNull()
    )
    return _noisy_distinct(cells, epsilon, seed)


def stream_dp_windowed_distinct(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    col: str = "user_id",
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of dp_windowed_distinct: the watermarked
    dropDuplicates-then-count composition (distinct aggregates are
    unsupported in streaming plans — stream_windowed_distinct's
    construction) perturbed by the same cell-keyed 'wdist' noise.
    Drive with outputMode('append') so each cell is released exactly
    once."""
    cells = stream_windowed_distinct(
        spark, events_dir, schema, window_duration, watermark, col
    )
    return _noisy_distinct(cells, epsilon, seed)


def _noisy_distinct(cells: DataFrame, epsilon: float, seed: int) -> DataFrame:
    """ONE noisy-distinct release select shared by the batch and
    streaming twins (the _noisy_counts discipline), keyed under the
    'wdist' domain tag so no draw is shared with the other windowed
    mechanisms at one seed."""
    from hillview_spark.operators.privacy import noisy_round

    noise = _cell_noise(epsilon, seed, "wdist", "window_start", "event_type")
    return cells.select(
        "window_start",
        "event_type",
        noisy_round(F.col("n_distinct"), noise).alias("noisy_distinct"),
    )


def dp_windowed_trending(
    events: DataFrame,
    unit: str = "day",
    col: str = "event_type",
    epsilon: float = 1.0,
    delta: float = 1e-6,
    seed: int = 0,
) -> DataFrame:
    """Continual stability-histogram release (r14) — "private
    trending values per window" over an UNKNOWN value domain: per
    (window, value) cell, a noisy count released only above the
    Korolova/Bun-Nissim-Stemmer threshold tau = 1 +
    2*ln(2/delta)/epsilon + 0.5. This composes the two r13 releases
    the continual family stopped short of combining:
    dp_histogram_unknown_domain's thresholded unknown-domain
    mechanism, per tumbling window — the "which search queries /
    pages / error codes are trending this hour" board where the
    domain itself is data (no curated bucket list) and is protected
    by the threshold.

    Privacy: event-level adjacency (the family's granularity) — an
    event lands in exactly ONE (window, value) cell and moves its
    count by 1, so per-cell Laplace(1/epsilon) + threshold is
    (epsilon, delta)-DP by parallel composition across disjoint
    cells. The noise is value-keyed PRF Laplace under the 'wtrend'
    domain tag (no draw shared with 'wcounts'/'wdist'/... at one
    seed), computable on an unbounded domain with no driver
    enumeration — so the SAME formula streams. Seed-secrecy caveat
    as dp_histogram_unknown_domain: the (epsilon, delta) guarantee
    is over the random choice of seed; production use needs a
    secret or per-release seed. NULL values are not a domain
    element (excluded); NULL event times drop (watermark rule).

    Scale: ONE groupBy to O(windows x distinct values) cells with
    map-side combine; noise and threshold are codegen'd expressions
    on the aggregate output — no join, no Python, same bound as any
    windowed distinct-count."""
    from hillview_spark.operators.privacy import _check_epsilon

    _check_epsilon(epsilon)
    if not (0.0 < delta < 1.0):
        raise ValueError(f"delta must be in (0, 1), got {delta!r}")
    return _noisy_trending(
        _trending_cells(events, unit, col), epsilon, delta, seed
    )


def _trending_cells(events: DataFrame, unit: str, col: str) -> DataFrame:
    """ONE copy of the per-(window, value) cell aggregate shared by
    the event-level and contribution-bounded trending releases: NULL
    values are not a domain element, NULL event times drop (the
    family's watermark rule)."""
    from hillview_spark.operators.histogram import trunc_ntz

    return (
        events.where(F.col(col).isNotNull())
        .groupBy(
            trunc_ntz(F.col("ts"), unit).alias("window_start"),
            F.col(col).alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .where(F.col("window_start").isNotNull())
    )


def stream_dp_windowed_trending(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 day",
    watermark: str = "2 days",
    col: str = "event_type",
    epsilon: float = 1.0,
    delta: float = 1e-6,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of dp_windowed_trending: watermarked tumbling
    windows per value, the same cell-keyed 'wtrend' noise and
    threshold applied to the aggregate output — each cell's release
    decision (including WHETHER the value appears) is derivable the
    moment the watermark closes it. Drive with outputMode('append')
    so each cell is released exactly once (re-emitting with fresh
    noise would burn budget; re-emitting the threshold decision
    would leak through presence-flicker)."""
    from hillview_spark.operators.privacy import _check_epsilon

    _check_epsilon(epsilon)
    if not (0.0 < delta < 1.0):
        raise ValueError(f"delta must be in (0, 1), got {delta!r}")
    stream = _event_time_stream(spark, events_dir, schema)
    cells = (
        stream.where(F.col(col).isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("win"),
            F.col(col).alias("value"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"), "value", "n_events"
        )
    )
    return _noisy_trending(cells, epsilon, delta, seed)


def _noisy_trending(
    cells: DataFrame, epsilon: float, delta: float, seed: int,
    tag: str = "wtrend",
) -> DataFrame:
    """ONE thresholded-release select shared by the batch and
    streaming twins (the _noisy_counts discipline): floor-integer
    noisy count under the `tag` PRF domain ('wtrend' for the
    event-level release, 'uwtrend' for the contribution-bounded
    one — the capped/uncapped pair must never share a draw at one
    seed, _noisy_counts' docstring), released only above tau —
    thresholding the ROUNDED release at tau (which carries its own
    +0.5) is at least as strict as thresholding the raw one, so the
    delta calibration survives the integer discipline (the
    dp_histogram_unknown_domain argument)."""
    import math

    from hillview_spark.operators.privacy import noisy_round

    noise = _cell_noise(epsilon, seed, tag, "window_start", "value")
    tau = 1.0 + 2.0 * math.log(2.0 / delta) / epsilon + 0.5
    return (
        cells.select(
            "window_start",
            "value",
            noisy_round(F.col("n_events"), noise).alias("noisy_count"),
        )
        .where(F.col("noisy_count") > F.lit(tau))
    )


def bound_contributions(
    events: DataFrame,
    k: int = 1,
    by: str = "user_id",
    per: str = "hour",
    max_windows: int | None = None,
    key_col: str = "event_id",
    salt: str = "bound1",
) -> DataFrame:
    """Per-entity contribution bounding (r15, VERDICT-r14
    What's-missing #4) — the pre-operator that turns the continual
    family's EVENT-level guarantees into USER-level ones: keep at
    most `k` events per (`by`, `per`-window) pair, chosen by a
    deterministic salted-hash rank over `key_col` (the Wilson et
    al. 2020 / DP-SQL contribution-bounding discipline: cap each
    user BEFORE the mechanism, then scale the stated guarantee by
    the cap). Optionally also keep each entity's rows in at most
    `max_windows` windows — without a window bound, one user can
    touch EVERY window, so the whole-stream user-level guarantee is
    unbounded (the per-window cap alone gives user-level DP per
    window release).

    Selection is cap_per_group's recipe: the k smallest
    (md5(key, salt), key) tuples per (entity, window) — a uniform
    pseudo-random subset that is reproducible across runs, engines,
    and re-ingests (a nondeterministic cap would change which
    events a re-run releases, silently re-spending budget on a
    different dataset). The window keep-set ranks each entity's
    distinct windows by the same hash under salt + 'w'.

    NULL handling: NULL event times drop (they have no window, so
    no per-window bound could cover them — and every downstream
    windowed release drops them anyway); NULL entities pool into
    ONE group capped at k (the conservative read: treat all unknown
    users as one user, never let the NULL pool exceed the cap); a
    NULL key_col raises loudly (salted_hex's guard — a row without
    identity has no deterministic rank). Contract: key_col must
    identify rows uniquely within a (entity, window) group —
    duplicate keys would tie the (hash, key) rank and make WHICH
    event survives engine- and partition-dependent (the same row-
    identity contract every salted-rank operator carries).

    100-TB shape: two-phase top-k per (entity, window) — phase 1
    ranks within (entity, window, input-partition), so even a
    pathological entity with 10^8 events in one window shrinks to
    k x num_partitions rows before the global rank (cap_per_group's
    skew discipline); the window keep-set ranks DISTINCT
    (entity, window) rows, whose cardinality is already bounded by
    entities x windows, not events."""
    from hillview_spark.operators.sampling import salted_hash

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    if max_windows is not None and max_windows < 1:
        raise ValueError(
            f"max_windows must be >= 1 or None, got {max_windows!r}"
        )
    from hillview_spark.operators.histogram import trunc_ntz

    cols = events.columns
    tagged = (
        events.where(F.col("ts").isNotNull())
        .withColumn("__win", trunc_ntz(F.col("ts"), per))
        .withColumn("__h", salted_hash(F.col(key_col), salt))
    )
    w_local = Window.partitionBy(
        by, "__win", F.spark_partition_id()
    ).orderBy("__h", key_col)
    local = (
        tagged.withColumn("__lrk", F.row_number().over(w_local))
        .where(F.col("__lrk") <= k)
        .drop("__lrk")
    )
    w_global = Window.partitionBy(by, "__win").orderBy("__h", key_col)
    bounded = (
        local.withColumn("__rk", F.row_number().over(w_global))
        .where(F.col("__rk") <= k)
        .drop("__rk", "__h")
    )
    if max_windows is not None:
        # rank each entity's DISTINCT windows by the portable hash of
        # the window's epoch seconds under salt+'w' (its own salt so
        # no draw is shared with the event rank), keep the first
        # max_windows, and semi-join back — eqNullSafe so the NULL
        # entity pool's windows are bounded too.
        wh = salted_hash(
            F.unix_seconds(F.col("__win").cast("timestamp")), salt + "w"
        )
        w_rank = Window.partitionBy(by).orderBy(wh, "__win")
        keep_w = (
            bounded.select(by, "__win")
            .distinct()
            .withColumn("__wrk", F.row_number().over(w_rank))
            .where(F.col("__wrk") <= max_windows)
            .select(F.col(by).alias("__kby"), F.col("__win").alias("__kwin"))
        )
        bounded = bounded.join(
            keep_w,
            F.col(by).eqNullSafe(F.col("__kby"))
            & (F.col("__win") == F.col("__kwin")),
            "leftsemi",
        )
    return bounded.select(*cols)


def dp_windowed_counts_user_level(
    events: DataFrame,
    unit: str = "hour",
    epsilon: float = 1.0,
    seed: int = 0,
    k: int = 1,
    by: str = "user_id",
    max_windows: int | None = None,
    key_col: str = "event_id",
    salt: str = "bound1",
) -> DataFrame:
    """USER-level DP continual windowed counts (r15): the
    contribution-bounded composition of bound_contributions and the
    dp_windowed_counts mechanism — the release a real telemetry
    pipeline must defend, where the unit of protection is a person,
    not a row. The cap is deterministic, so the composed release
    hash-oracles exactly like the event-level family.

    Adjacency table for the continual family (what one
    Laplace(1/epsilon)-per-cell release of THIS pipeline guarantees
    against each notion of neighboring datasets):

      adjacency                      guarantee   why
      ------------------------------ ----------- --------------------
      one EVENT added/removed        epsilon     the event lands in
                                                 exactly one cell
                                                 (parallel
                                                 composition — every
                                                 dp_windowed_* release)
      one USER's data WITHIN one     k*epsilon   after the cap the
      window changed                             user has <= k events
                                                 there; group privacy
                                                 over k event-neighbors
      one USER added/removed         k*max_windows*epsilon
      (whole stream)                             <= k*max_windows
                                                 events total; without
                                                 max_windows this is
                                                 UNBOUNDED (a user can
                                                 touch every window)

    Pass max_windows for a finite whole-stream user-level guarantee;
    leave it None when the deployment windows the BUDGET instead
    (e.g. a per-day release where each day is its own epsilon
    account). The noise draws under the 'uwcnt' domain tag — never
    shared with the uncapped 'wcounts' release at one seed, or
    subtracting the two would reveal the capped-away delta
    noise-free (_noisy_counts' docstring).

    No streaming twin BY DESIGN: the cap's global (hash, key) rank
    needs each (user, window)'s full event set; a streaming
    composition would cap by ARRIVAL order inside
    applyInPandasWithState — a different (nondeterministic across
    replays) selection that cannot share this oracle. The windowed
    release itself streams; the bound is the batch pre-pass.

    Scale: bound_contributions' two-phase rank shuffles + the ONE
    groupBy of windowed_counts; noise stays a codegen'd per-cell
    expression (no join, no Python)."""
    bounded = bound_contributions(
        events, k=k, by=by, per=unit, max_windows=max_windows,
        key_col=key_col, salt=salt,
    )
    # NULL ts already dropped by the bound, so every window_start is
    # non-NULL — the where matches dp_windowed_counts' rule verbatim.
    counts = (
        windowed_counts(bounded, unit)
        .drop("sum_value")
        .where(F.col("window_start").isNotNull())
    )
    return _noisy_counts(counts, epsilon, seed, tag="uwcnt")


def dp_windowed_trending_user_level(
    events: DataFrame,
    unit: str = "day",
    col: str = "event_type",
    epsilon: float = 1.0,
    delta: float = 1e-6,
    seed: int = 0,
    k: int = 1,
    by: str = "user_id",
    max_windows: int | None = None,
    key_col: str = "event_id",
    salt: str = "bound1",
) -> DataFrame:
    """USER-level private trending values (r15) — the
    contribution-bounded composition of bound_contributions and the
    unknown-domain stability-histogram mechanism: "which values are
    trending this window, protecting PEOPLE, not rows", with the
    value domain itself data and threshold-protected. This is the
    release the Wilson et al. 2020 discipline exists for — a
    trending board is exactly where one hyperactive user could
    otherwise mint a 'trend' on their own.

    Privacy at the (epsilon, delta) grain: after the cap, one
    user's data change WITHIN one window moves at most k cells by
    total L1 <= k, so group privacy over k event-level neighbors
    gives (k*epsilon, k*e^((k-1)*epsilon)*delta)-DP per window at
    user-in-window adjacency — which for the k=1 default is EXACTLY
    (epsilon, delta): the cap buys user-in-window protection at no
    guarantee degradation. Whole-stream user-level protection
    additionally needs max_windows (the release composes over the
    <= max_windows windows a user can touch); without it the
    whole-stream guarantee is unbounded, as in
    dp_windowed_counts_user_level's adjacency table. Draws live
    under 'uwtrend' — never shared with the uncapped 'wtrend'
    release at one seed. No streaming twin BY DESIGN (the cap is a
    deterministic batch pre-pass; see
    dp_windowed_counts_user_level).

    Scale: bound_contributions' two-phase rank shuffles + ONE
    groupBy to O(windows x distinct values) cells; noise and
    threshold stay codegen'd on the aggregate output."""
    from hillview_spark.operators.privacy import _check_epsilon

    _check_epsilon(epsilon)
    if not (0.0 < delta < 1.0):
        raise ValueError(f"delta must be in (0, 1), got {delta!r}")
    bounded = bound_contributions(
        events, k=k, by=by, per=unit, max_windows=max_windows,
        key_col=key_col, salt=salt,
    )
    return _noisy_trending(
        _trending_cells(bounded, unit, col), epsilon, delta, seed,
        tag="uwtrend",
    )


def windowed_topk(
    events: DataFrame,
    unit: str = "hour",
    col: str = "event_type",
    k: int = 3,
    ties: str = "truncate",
) -> DataFrame:
    """Per-window top-k values by count — the "top pages per hour"
    telemetry board, and the BATCH twin of stream_heavy_hitters
    (which releases min-count survivors; this releases ranked
    top-k).

    ties='truncate' (default): exactly k rows per window. Ties break
    by (value IS NULL, value): a bare count order would make
    row_number nondeterministic on tied counts, and a bare value
    order would put a NULL cell FIRST in Spark but LAST in DuckDB —
    the boolean flag pins the NULL cell after the non-NULL ties in
    BOTH engines, with no sentinel string a real value could collide
    with. ties='keep': the analyst-expected "keep ties" semantics —
    competition rank() over count alone, so every value whose count
    ties the k-th survives (possibly >k rows; tied values share a
    rank). Both policies are deterministic; NULL event times keep
    their group (windowed_counts' convention).

    Scale shape: one groupBy(window, value) with map-side combine
    collapses events to O(windows x values) cells; the rank window
    partitions per (window) over those cells — thousands of rows per
    partition at any scale — and k prunes the output."""
    from hillview_spark.operators.histogram import trunc_ntz

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k!r}")
    if ties not in ("truncate", "keep"):
        raise ValueError(f"ties must be 'truncate' or 'keep', got {ties!r}")
    cells = events.groupBy(
        trunc_ntz(F.col("ts"), unit).alias("window_start"),
        F.col(col).alias("value"),
    ).agg(F.count(F.lit(1)).alias("n"))
    if ties == "keep":
        w = Window.partitionBy("window_start").orderBy(F.desc("n"))
        ranked = cells.withColumn("rank", F.rank().over(w).cast("int"))
    else:
        w = Window.partitionBy("window_start").orderBy(
            F.desc("n"), F.col("value").isNull(), F.col("value")
        )
        ranked = cells.withColumn(
            "rank", F.row_number().over(w).cast("int")
        )
    return ranked.where(F.col("rank") <= F.lit(int(k)))


def path_counts(
    events: DataFrame, depth: int = 3, id_col: str = "user_id"
) -> DataFrame:
    """N-step event paths: counts of length-`depth` sequences of
    adjacent typed events per user — the sankey-at-depth view
    (transition_counts is depth=2). Same rules and domain premise as
    transition_counts: typed events only, NULL user/ts excluded,
    ties ordered by the non-null unique event_id; the chained
    lead()s reuse ONE window spec, so Catalyst computes every step
    in a single Window operator over the same user partition — still
    exactly one shuffle before the aggregate.

    Output columns step_1..step_N + n_paths, so any depth works with
    the same reader."""
    if depth < 2:
        raise ValueError(f"depth must be >= 2, got {depth!r}")
    w = Window.partitionBy("__u").orderBy("ts", "event_id")
    typed = events.where(
        F.col("ts").isNotNull()
        & F.col(id_col).isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.col(id_col).alias("__u"), "event_id", "ts",
        F.col("event_type").alias("step_1"),
    )
    steps = ["step_1"]
    for i in range(2, depth + 1):
        typed = typed.withColumn(
            f"step_{i}", F.lead("step_1", i - 1).over(w)
        )
        steps.append(f"step_{i}")
    return (
        typed.where(F.col(steps[-1]).isNotNull())
        .groupBy(*steps)
        .agg(F.count(F.lit(1)).alias("n_paths"))
    )


def inter_event_gaps(
    events: DataFrame,
    id_col: str = "user_id",
    probs: tuple[float, ...] = (0.5, 0.9),
    ndigits: int = 4,
) -> DataFrame:
    """Inter-event gap distribution per event type: for each typed
    event with a same-user successor, the gap to that successor in
    seconds, summarized as percentiles per FROM-type — the
    dwell-time/engagement-cadence shape ("how long after a click
    does the next thing happen"). Same adjacency rules and event_id
    tie-break premise as transition_counts.

    Determinism: gaps are EXACT integer microseconds divided by the
    exact literal 1e6 (one double division, bit-identical
    cross-engine); percentiles ride the proven
    percentile == quantile_cont parity, rounded to ndigits.

    Scale shape: one shuffle by user for the window, then a
    |types|-cell aggregate; exact percentile state is the per-type
    gap list — switch the aggregate to percentile_approx at extreme
    type cardinality (windowed_quantiles' documented trade)."""
    from hillview_spark.operators.stats import _q_alias

    # __us is strictly monotone in ts, so ordering by it is the same
    # total order as the other adjacency ops' (ts, event_id)
    w = Window.partitionBy("__u").orderBy("__us", "event_id")
    typed = events.where(
        F.col("ts").isNotNull()
        & F.col(id_col).isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.col(id_col).alias("__u"), "event_id",
        F.col("event_type").alias("from_type"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
    )
    gaps = typed.withColumn(
        "__gap",
        (F.lead("__us").over(w) - F.col("__us")).cast("double")
        / F.lit(1000000.0),
    ).where(F.col("__gap").isNotNull())
    return gaps.groupBy("from_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        *[
            F.round(F.expr(f"percentile(__gap, {p})"), ndigits).alias(
                _q_alias(p)
            )
            for p in probs
        ],
    )


def stream_transitions(
    spark: SparkSession,
    events_dir: str,
    schema,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of transition_counts' per-user chaining — the
    third custom stateful pattern in this module: a WATERMARK-ORDERED
    REPLAY BUFFER. lead() is unsupported in streaming plans, and
    unlike sessionization (which tolerates in-gap disorder) adjacency
    is order-SENSITIVE: an out-of-order arrival between two already-
    paired events would change the pairs. So per-user state buffers
    pending typed events and only CHAINS the prefix the watermark has
    made final (no earlier event can still arrive), carrying the last
    chained event across batches; an event-time timeout armed at the
    earliest pending event drains the buffer when the key goes quiet.

    Emits one row per transition — (user_id, from_type, to_type,
    to_ts) — as each becomes final; aggregate downstream for the
    matrix (the batch twin aggregates in-plan; a streaming aggregate
    can chain after this stateful op in append mode, or land in the
    sink). Declared divergences, shared with every twin: NULL
    users/times/types are dropped — and NULL event_ids too (the
    batch twin documents event_id as a non-null unique key; here a
    NULL id degrades like the other NULL drops rather than reaching
    int() as NaN and failing the query) — and a straggler older
    than the watermark-chained prefix is dropped where batch would
    count it.
    State is O(pending events inside the watermark horizon + 1) per
    user, and the pytest pins streamed==batch EXACTLY once the
    watermark passes the data."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    out_type = StructType([
        StructField("user_id", LongType()),
        StructField("from_type", StringType()),
        StructField("to_type", StringType()),
        StructField("to_ts", TimestampType()),
    ])
    state_type = StructType([
        StructField("pend_ts", ArrayType(LongType())),
        StructField("pend_id", ArrayType(LongType())),
        StructField("pend_type", ArrayType(StringType())),
        StructField("last_ts", LongType()),
        StructField("last_id", LongType()),
        StructField("last_type", StringType()),
    ])

    def fn(key, pdfs, state: "GroupState"):
        user = key[0]
        if state.exists:
            p_ts, p_id, p_ty, l_ts, l_id, l_ty = state.get
            pend = list(zip(p_ts, p_id, p_ty))
        else:
            pend, l_ts, l_id, l_ty = [], None, None, None
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdfs:
                sub = pdf[["ts", "event_id", "event_type"]].dropna(
                    subset=["ts", "event_id", "event_type"]
                )
                for t, eid, ty in sub.itertuples(index=False):
                    us = int(t.value // 1000)
                    if l_ts is not None and (us, int(eid)) <= (l_ts, l_id):
                        continue  # straggler behind the chained prefix
                    pend.append((us, int(eid), ty))
        # chain the watermark-final prefix in (ts, event_id) order
        pend.sort()
        out = []
        i = 0
        while i < len(pend) and pend[i][0] < wm_us:
            us, eid, ty = pend[i]
            if l_ty is not None:
                out.append((user, l_ty, ty, us))
            l_ts, l_id, l_ty = us, eid, ty
            i += 1
        pend = pend[i:]
        if not pend and l_ty is None:
            if state.exists:
                state.remove()
        else:
            state.update((
                [p[0] for p in pend],
                [p[1] for p in pend],
                [p[2] for p in pend],
                l_ts, l_id, l_ty,
            ))
            if pend:
                state.setTimeoutTimestamp(max(
                    pend[0][0] // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                ))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "from_type": [r[1] for r in out],
                    "to_type": [r[2] for r in out],
                    "to_ts": [
                        pd.Timestamp(r[3], unit="us") for r in out
                    ],
                }
            )

    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.withWatermark("ts", watermark)
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_id", "event_type", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, out_type, state_type, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def dp_transition_counts(
    events: DataFrame,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Differentially-private transition matrix: the Markov/sankey
    release with one Laplace draw per (from, to) cell. Event-level
    sensitivity is 3, NOT 1: adding/removing one event changes the
    two pairs it participates in AND can create/destroy one pair
    between its former neighbors (drop e from a-e-b: (a,e) and (e,b)
    leave, (a,b) appears) — so the per-cell scale is 3/epsilon, the
    L1/parallel-composition argument over disjoint cells otherwise
    unchanged from dp_windowed_counts. The noise keys on the portable
    md5 PRF over the escaped (from, to) pair + the 'wtrans' domain
    tag (laplace_noise_col routes every key through _prf_field, so a
    type containing '|' cannot forge another cell's key — the r10
    heatmap-collision class), which is what lets the DuckDB oracle
    rebuild the release bit-for-bit (floor absorbs the 1-ulp ln).
    Sparse convention as every count release: cells with zero true
    transitions produce no row."""
    from hillview_spark.operators.privacy import noisy_round

    noise = _cell_noise(
        epsilon, seed, "wtrans", "from_type", "to_type", sensitivity=3.0
    )
    return transition_counts(events).select(
        "from_type",
        "to_type",
        noisy_round(F.col("n_transitions"), noise).alias("noisy_transitions"),
    )


def windowed_histogram(
    events: DataFrame,
    unit: str = "hour",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    buckets: int = 10,
    include_max: bool = True,
) -> DataFrame:
    """Per-window histogram of a numeric column: (window_start,
    bucket, n_events) — the telemetry-over-time shape (each window's
    value distribution, not just its count). Pure bucket arithmetic
    on the scan + ONE groupBy on (window, small int); shuffle is
    O(windows x buckets) after map-side combine. Sparse: cells with
    no events produce no row (same convention as windowed_counts).

    Range rule (r9, ADVICE r8): the PLAIN histogram is CLOSED at max
    — value == hi lands in the last bucket (the _value_bucket clamp),
    only value > hi is dropped — matching the reference's
    DoubleHistogramBuckets.indexOf. The DP twins pass
    include_max=False: their grid is quantization intervals
    [left, right) where hi itself is out of range
    (DoubleColumnQuantization.outOfRange)."""
    from hillview_spark.operators.histogram import trunc_ntz

    return (
        events.where(_present_in_range(col, lo, hi, include_max))
        .groupBy(
            trunc_ntz(F.col("ts"), unit).alias("window_start"),
            _value_bucket(col, lo, hi, buckets).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _present_in_range(col: str, lo: float, hi: float,
                      include_max: bool = False):
    """Fixed-grid presence for the windowed-histogram twins: present
    AND inside the range. Out-of-range values are EXCLUDED, not
    clamped — clamping would inflate the edge buckets, and NULL, NaN,
    and ±Inf all fail the range comparisons here too (NaN compares
    false against any bound in both engines). include_max selects which reference rule applies:
    False = quantization grid [lo, hi) (DoubleColumnQuantization.
    bucketIndex -1 / GroupBySketch.java:78-80 drop, the DP paths);
    True = plain histogram [lo, hi] (DoubleHistogramBuckets.indexOf:
    value == max belongs to the last bucket, only value > max
    drops)."""
    v = F.col(col).cast("double")
    upper = (v <= F.lit(float(hi))) if include_max else (v < F.lit(float(hi)))
    return (v >= F.lit(float(lo))) & upper


def _value_bucket(col: str, lo: float, hi: float, buckets: int):
    """Shared bucket expression for the windowed-histogram twins:
    clamp(floor((v - lo) / width)) with width = (hi - lo)/buckets —
    written in exactly this op order so the DuckDB oracle reproduces
    the float arithmetic bit-for-bit. Callers filter NULL/NaN first
    (_present_in_range rejects both — NULL fails the comparisons and
    NaN compares false): Spark's greatest/least SKIP nulls, so an
    unfiltered NULL would silently land in bucket 0."""
    if not hi > lo:
        raise ValueError(f"empty value range [{lo}, {hi})")
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    width = (hi - lo) / buckets
    v = F.col(col).cast("double")
    return F.least(
        F.greatest(
            F.floor((v - F.lit(float(lo))) / F.lit(float(width))), F.lit(0)
        ),
        F.lit(buckets - 1),
    ).cast("int")


def dp_windowed_histogram(
    events: DataFrame,
    unit: str = "hour",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    buckets: int = 10,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Differentially-private continual HISTOGRAM release: each
    event lands in exactly one (window, value-bucket) cell, so one
    portable md5-PRF Laplace(1/epsilon) draw per cell is epsilon-DP
    by parallel composition — the 2-D telemetry generalization of
    dp_windowed_counts (same release convention: observed cells
    only). The noise expression is pure Catalyst keyed on
    (epoch seconds, bucket), so the SAME formula streams unchanged
    in stream_dp_windowed_histogram and replays in DuckDB."""
    counts = windowed_histogram(
        events, unit, col, lo, hi, buckets, include_max=False
    ).where(F.col("window_start").isNotNull())
    return _noisy_hist(counts, epsilon, seed)


def stream_dp_windowed_histogram(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    col: str = "value",
    lo: float = 0.0,
    hi: float = 100.0,
    buckets: int = 10,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """Streaming twin of dp_windowed_histogram: watermarked tumbling
    windows x value buckets, perturbed by the identical cell-keyed
    noise expression — each cell's noise is derivable the moment the
    watermark closes its window. Drive with outputMode('append') so
    every cell is released exactly once."""
    stream = _event_time_stream(spark, events_dir, schema)
    counts = (
        stream.where(_present_in_range(col, lo, hi))
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window_duration).alias("win"),
            _value_bucket(col, lo, hi, buckets).alias("bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "bucket", "n_events")
    )
    return _noisy_hist(counts, epsilon, seed)


def _noisy_hist(counts: DataFrame, epsilon: float, seed: int) -> DataFrame:
    """ONE noisy-release select shared by the histogram twins (the
    dp_windowed_counts pattern: a single copy of the rounding and
    the cell-noise expression keeps the twins bit-identical)."""
    from hillview_spark.operators.privacy import noisy_round

    # 'whist' is the mechanism DOMAIN TAG: dp_windowed_counts keys on
    # (secs, event_type) and this release on (secs, bucket) under the
    # same seed — without the tag an event_type that stringifies like
    # a bucket index ('0'..'9') would draw bit-identical noise in both
    # releases, and subtracting them would cancel it exactly.
    noise = _cell_noise(epsilon, seed, "whist", "window_start", "bucket")
    return counts.select(
        "window_start",
        "bucket",
        noisy_round(F.col("n_events"), noise).alias("noisy_events"),
    )


def _cell_noise(
    epsilon: float, seed: int, tag: str, *keys: str, sensitivity: float = 1.0
):
    """THE Laplace(sensitivity/epsilon) draw of every cell-keyed
    release in this module (the windowed family and the transition
    matrix): privacy.laplace_noise_col over the cell key
    (keys..., tag), `keys` being column names. window_start enters as
    its epoch seconds — NTZ in batch, LTZ in the stream, the same
    instant under the pinned UTC session — so the batch and streaming
    twins and the DuckDB oracle hash the same string.

    `tag` is the mechanism's domain tag ('wcounts', 'uwcnt', 'whist',
    'wsum', ...): distinct releases must never share a PRF key even
    when a key value stringifies like another release's (an
    event_type '3' vs value bucket 3), and a capped/uncapped pair
    must never share a draw at one seed (_noisy_counts' docstring)."""
    from hillview_spark.operators.privacy import _check_epsilon, laplace_noise_col

    _check_epsilon(epsilon)
    fields = [
        F.unix_seconds(F.col(k).cast("timestamp"))
        if k == "window_start" else F.col(k)
        for k in keys
    ]
    return laplace_noise_col(
        epsilon, seed, *fields, F.lit(tag), scale=sensitivity / epsilon
    )


def _type_index(event_type: str | None) -> int:
    """Stable per-type PRF index so different event types draw
    independent noise trees (plays the role of the column index in
    SecureLaplace's scratch bytes). A NULL type is its own group —
    windowed_counts' groupBy keeps it, so the spine must key it too
    rather than crash. The key uses privacy._prf_field's escaped
    rendering (NULL -> '\\N', backslashes doubled, '|' escaped): the
    r9 review found the old `'' if None` mapping gave the NULL-type
    and ''-type groups bit-identical noise trees, so an adversary
    could subtract the two releases and read their difference
    noise-free — the exact collision class _prf_field exists to
    prevent. Identity on plain type names, so prior releases on the
    gate fixtures are bit-unchanged."""
    import hashlib

    if event_type is None:
        key = "\\N"
    else:
        key = event_type.replace("\\", "\\\\").replace("|", "\\|")
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:4], "big") & 0x7FFFFFFF


# Declared time horizon for the continual counter's noise tree: leaf
# indexes are hours since epoch PLUS a 2^19-hour offset (~60 years),
# so timestamps back to ~1910 get valid non-negative leaves — without
# the offset a pre-1970 event would make interval_noise(0, leaf+1)
# empty (zero noise released: a DP break) or negative (a crash).
# 2**20 leaves total still covers ~60 more years forward. scale =
# ceil(log_20 2^20)/epsilon = 5/epsilon, fixed up front — the point
# of the binary mechanism is that the horizon is set once and the
# per-release noise stays O(log T) forever after.
CONTINUAL_HORIZON_LEAVES = 1 << 20
CONTINUAL_LEAF_OFFSET = 1 << 19

# Max (event_type, hour-leaf) spine rows computed driver-side in
# dp_prefix_counts; above this the per-node PRF draws run distributed
# (mapInPandas) and the spine join is not broadcast. 200k rows ≈ 22
# years of hourly releases x 1000 types — the memoized driver path
# covers any realistic horizon; the bound makes the cliff explicit
# instead of an OOM.
DRIVER_SPINE_MAX = 200_000


def dp_prefix_counts(
    events: DataFrame,
    epsilon: float = 1.0,
    seed: int = 0,
) -> DataFrame:
    """DP continual counter, batch twin — THE construction of Chan,
    Song, Shi TISSEC '11 (the paper IntervalDecomposition.java:29-31
    cites): for each event type, release at every hour-window the
    noisy PREFIX count of all events so far, with noise summed over
    the k-adic decomposition of [0, leaf) — O(log T) error instead of
    the O(T) a fresh draw per release would compound to. Leaf index =
    hours since epoch (data-independent), horizon fixed at 2^20
    leaves. One groupBy shuffle for the per-window counts; the
    prefix sum + noise run on the O(windows x types) aggregate via a
    driver spine, like dp_histogram. Each node draw uses the
    tree-node key (privacy._uniform), which the DuckDB oracle replays
    to re-derive the whole O(log T) release from SQL."""
    from hillview_spark.operators.privacy import noise_scale

    scale = noise_scale(epsilon, CONTINUAL_HORIZON_LEAVES)
    counts = (
        windowed_counts(events, "hour")
        .drop("sum_value")
        # NULL ts -> NULL window -> NULL leaf: no hour to index in the
        # noise tree; drop the group instead of crashing int(None)
        .where(F.col("window_start").isNotNull())
        .withColumn(
            "leaf",
            (
                F.expr(
                    "timestampdiff(HOUR, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                    " window_start)"
                )
                + F.lit(CONTINUAL_LEAF_OFFSET)
            ).cast("long"),
        )
    )
    from hillview_spark import cache

    w = (
        Window.partitionBy("event_type")
        .orderBy("leaf")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # persisted: the (type, leaf) spine collect below AND the joined
    # result both read this aggregate — without the persist the whole
    # scan+shuffle DAG would run twice (cache.py registry pattern)
    cum = counts.select(
        "event_type", "window_start", "leaf", F.sum("n_events").over(w).alias("cum")
    ).transform(cache.persist)
    # noise spine: one row per (type, leaf) present — bounded by the
    # aggregate size (types x hours), never the event count (cum is
    # already unique per (type, leaf); no distinct needed).
    #
    # Consecutive-hour prefixes [0, L+1) share almost all of their
    # k-adic nodes (only the lowest digits churn), so memoizing the
    # per-node draw collapses the spine from O(rows * log T) PRF
    # calls to O(distinct nodes) — ~80x fewer md5 evaluations
    # on an hourly spine, same released values bit-for-bit.
    #
    # DRIVER SPINE BOUND (r10): the collected memo was the one
    # driver-side structure in the tree that grew with the time
    # horizon. A limit-probe caps it LOUDLY at DRIVER_SPINE_MAX rows
    # (200k (type, hour) pairs ≈ 22 years hourly x 1000 types — far
    # past any realistic continual-release horizon); above the cap
    # the same per-row draws run executor-side in Arrow batches with
    # a per-partition memo, values bit-for-bit identical, and the
    # spine joins un-broadcast (it no longer fits a broadcast).
    from hillview_spark.operators.privacy import (
        kadic_decomposition, node_noise, noisy_round,
    )

    def _prefix_noise(leaf: int, ci: int, node_memo: dict) -> float:
        total = 0.0
        for node in kadic_decomposition(0, leaf + 1):
            k = (ci, node)
            draw = node_memo.get(k)
            if draw is None:
                draw = node_noise(seed, ci, scale, node)
                node_memo[k] = draw
            total += draw
        return total

    spine_cols = cum.select("event_type", "leaf")
    probe = spine_cols.limit(DRIVER_SPINE_MAX + 1).collect()
    if len(probe) <= DRIVER_SPINE_MAX:
        memo: dict = {}
        spine = [
            (
                r.event_type,
                int(r.leaf),
                _prefix_noise(int(r.leaf), _type_index(r.event_type), memo),
            )
            for r in probe
        ]
        from hillview_spark.localrel import local_df

        noise_df = F.broadcast(
            local_df(
                events.sparkSession, spine,
                "__noise_type string, leaf bigint, noise double",
            )
        )
    else:
        def _gen(batches):
            import pandas as pd

            memo: dict = {}
            for pdf in batches:
                noises = []
                for et, leaf in zip(pdf["event_type"], pdf["leaf"]):
                    et = None if pd.isna(et) else et
                    noises.append(
                        _prefix_noise(int(leaf), _type_index(et), memo)
                    )
                yield pd.DataFrame(
                    {
                        "__noise_type": pdf["event_type"],
                        "leaf": pdf["leaf"],
                        "noise": noises,
                    }
                )

        noise_df = spine_cols.mapInPandas(
            _gen, "__noise_type string, leaf bigint, noise double"
        )
    # NULL-SAFE equi-join on the type: the spine keys NULL types (per
    # _type_index's contract) but a plain ["event_type", ...] join
    # would never match them — silently dropping the NULL-type group
    # that the streaming twin (groupBy keeps NULL keys) and the DuckDB
    # oracle (IS NOT DISTINCT FROM) both release.
    return (
        cum.join(
            noise_df,
            F.col("event_type").eqNullSafe(F.col("__noise_type"))
            & (cum["leaf"] == noise_df["leaf"]),
        )
        .select(
            "event_type",
            "window_start",
            noisy_round(F.col("cum"), F.col("noise")).alias("noisy_prefix"),
        )
    )


def stream_dp_prefix_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    epsilon: float = 1.0,
    seed: int = 0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the continual counter: per event type, a
    stateful operator buffers per-hour counts and, when the event-time
    watermark passes an hour's end, releases that hour's noisy prefix
    — the same seeded k-adic noise as the batch twin, so releases
    match bit-for-bit. State is O(open hours per type), evicted on
    release; the cumulative total is a single long carried forward —
    the stream never re-reads history, which is the continual-release
    point."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from hillview_spark.operators.privacy import (
        interval_noise, noise_scale, noisy_round,
    )

    scale = noise_scale(epsilon, CONTINUAL_HORIZON_LEAVES)
    # the state function emits the exact prefix and its noise; the
    # release rounds them in Catalyst, as the batch twin does
    out_type = StructType(
        [
            StructField("event_type", StringType()),
            StructField("window_start", TimestampType()),
            StructField("cum", LongType()),
            StructField("noise", DoubleType()),
        ]
    )
    # state: (cum_emitted, open-leaf list, open-count list)
    state_type = StructType(
        [
            StructField("cum", LongType()),
            StructField("leaves", StringType()),   # csv of open leaf idxs
            StructField("counts", StringType()),   # csv of their counts
        ]
    )
    HOUR_US = 3600 * 1_000_000

    def _emit(etype, cum, open_map, horizon_leaf):
        """Release every complete hour (< horizon_leaf) in order."""
        out = []
        for leaf in sorted(open_map):
            if leaf >= horizon_leaf:
                break
            cum += open_map.pop(leaf)
            noise, _ = interval_noise(0, leaf + 1, scale, seed, _type_index(etype))
            out.append(
                (
                    etype,
                    pd.Timestamp((leaf - CONTINUAL_LEAF_OFFSET) * HOUR_US, unit="us"),
                    cum,
                    noise,
                )
            )
        return cum, out

    def fn(key, pdfs, state: "GroupState"):
        etype = key[0]
        if state.exists:
            cum, leaves_csv, counts_csv = state.get
            open_map = (
                dict(
                    zip(
                        (int(x) for x in leaves_csv.split(",")),
                        (int(x) for x in counts_csv.split(",")),
                    )
                )
                if leaves_csv
                else {}
            )
        else:
            cum, open_map = 0, {}
        for pdf in pdfs:
            # NaT drops (batch twin filters NULL windows the same
            # way): astype(int64) turns NaT into the int64-min
            # sentinel -> a hugely negative leaf that interval_noise
            # rejects — a PERMANENT poison pill, since the crash
            # repeats on every restart from checkpoint
            ts = pdf["ts"].dropna()
            if len(ts) == 0:
                continue
            us = ts.astype("int64") // 1000
            leaves = us // HOUR_US + CONTINUAL_LEAF_OFFSET
            for leaf, cnt in leaves.value_counts().items():
                open_map[int(leaf)] = open_map.get(int(leaf), 0) + int(cnt)
        # release hours the watermark has passed. getCurrentWatermarkMs
        # returns 0 when no watermark has been computed yet (first
        # batch) — treat that as "release nothing", NOT as an epoch
        # watermark: with the leaf offset, epoch-as-watermark would
        # flush every buffered pre-1970 hour prematurely. (Spark's own
        # watermark clamps at 0 ms, so pre-epoch event times are a
        # batch-twin-only capability; the stream releases them once
        # the watermark passes epoch.)
        wm_ms = state.getCurrentWatermarkMs()
        wm_leaf = wm_ms * 1000 // HOUR_US + CONTINUAL_LEAF_OFFSET if wm_ms > 0 else 0
        cum, out = _emit(etype, cum, open_map, wm_leaf)
        state.update(
            (
                cum,
                ",".join(str(x) for x in sorted(open_map)),
                ",".join(str(open_map[x]) for x in sorted(open_map)),
            )
        )
        if open_map:
            # wake when the watermark can close the oldest open hour
            next_end_ms = (min(open_map) + 1 - CONTINUAL_LEAF_OFFSET) * HOUR_US // 1000
            state.setTimeoutTimestamp(
                max(next_end_ms, state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out, columns=["event_type", "window_start", "cum", "noise"]
            )

    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.select("event_type", "ts")
        .withWatermark("ts", watermark)
        .groupBy("event_type")
        .applyInPandasWithState(
            fn, out_type, state_type, "append", GroupStateTimeout.EventTimeTimeout
        )
        .select(
            "event_type",
            "window_start",
            noisy_round(F.col("cum"), F.col("noise")).alias("noisy_prefix"),
        )
    )


def stream_dedup(
    spark: SparkSession,
    events_dir: str,
    schema,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop events whose key was already seen
    within the watermark horizon (dropDuplicatesWithinWatermark) —
    the exactly-once ingest guard in front of every downstream
    aggregate when the transport (Kafka, retries) can redeliver.

    State is bounded by the watermark: a key's fingerprint is evicted
    once the watermark passes it, so memory is O(events per horizon),
    not O(stream). At 100 TB/day the horizon, not the corpus, sizes
    the state store."""
    key_cols = key_cols or ["event_id"]
    stream = _event_time_stream(spark, events_dir, schema)
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


def stream_heavy_hitters(
    spark: SparkSession,
    events_dir: str,
    schema,
    col: str = "user_id",
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    min_count: int = 2,
) -> DataFrame:
    """Streaming windowed heavy hitters: per tumbling window, the
    values of `col` whose count reaches min_count — the streaming
    twin of heavy_hitters.heavy_hitters. Append mode emits a
    window's survivors once the watermark closes it; the groupBy
    state is O(windows × distinct values per window), bounded by the
    watermark. The HAVING filter runs post-aggregate, so the stream
    shuffles only (window, value) partial counts — map-side combine
    applies exactly as in batch."""
    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), col)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .select(F.col("win.start").alias("window_start"), col, "n")
    )


def windowed_distinct(
    events: DataFrame, unit: str = "hour", col: str = "user_id"
) -> DataFrame:
    """Tumbling-window DISTINCT-entity counts per event type — the
    active-users-per-hour telemetry shape (windowed_counts counts
    EVENTS; this counts WHO). countDistinct skips NULL entities in
    both engines; NULL event times keep their group exactly like
    windowed_counts (the streaming twin's watermark drops them — the
    same declared divergence as every other twin pair).

    Scale shape: one shuffle on (window, type) whose state is the
    per-cell distinct set — bounded by entities per window, not
    events (partial aggregation dedupes map-side first)."""
    from hillview_spark.operators.histogram import trunc_ntz

    return events.groupBy(
        trunc_ntz(F.col("ts"), unit).alias("window_start"),
        "event_type",
    ).agg(F.countDistinct(col).alias("n_distinct"))


def stream_windowed_distinct(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    col: str = "user_id",
) -> DataFrame:
    """Streaming twin of windowed_distinct. Distinct aggregates are
    unsupported in streaming plans, so the twin composes the two
    primitives Structured Streaming DOES bound: watermarked
    dropDuplicates over (window, type, entity) — state evicts once
    the watermark passes the window, because the window column
    carries the event-time attribute — then a plain count per
    (window, type), which now counts exactly one row per distinct
    entity. NULL entities: dropDuplicates keeps ONE (window, type,
    NULL) row that count(*) would include while the batch twin's
    countDistinct skips it — the where() drops them for twin/oracle
    parity."""
    stream = _event_time_stream(spark, events_dir, schema)
    deduped = (
        stream.withWatermark("ts", watermark)
        .select(
            F.window("ts", window_duration).alias("win"),
            "event_type",
            F.col(col),
        )
        .where(F.col(col).isNotNull())
        .dropDuplicates(["win", "event_type", col])
    )
    return (
        deduped.groupBy("win", "event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_distinct",
        )
    )


def windowed_quantiles(
    events: DataFrame,
    unit: str = "hour",
    col: str = "value",
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    ndigits: int = 4,
    approx: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """Per-window value percentiles per event type — the
    latency-percentile telemetry shape (p50/p90/p99 per hour per
    endpoint). Exact interpolated percentiles by default (Spark
    `percentile` == DuckDB `quantile_cont`, the proven
    quantiles_price parity mechanism — one wide aggregate, NULLs
    skipped by both engines, non-finite readings masked to NULL by
    the engine-wide rule first). approx=True switches every cell to
    percentile_approx (Greenwald-Khanna, mergeable bounded state) —
    the 100-TB path, engine-specific estimates so pytest-only, the
    same exact/approx policy as stats.quantiles/quantiles_approx.

    Shape: ONE groupBy on (window, type); exact state is the cell's
    value list (fine at telemetry cell sizes), approx state is the
    fixed GK sketch."""
    from hillview_spark.operators.histogram import trunc_ntz
    from hillview_spark.operators.stats import _q_alias

    fn = "percentile_approx" if approx else "percentile"
    extra = f", {accuracy}" if approx else ""
    proj = events.select(
        trunc_ntz(F.col("ts"), unit).alias("window_start"),
        "event_type",
        numeric.finite_or_null(F.col(col).cast("double")).alias("__v"),
    )
    return proj.groupBy("window_start", "event_type").agg(
        *[
            F.round(F.expr(f"{fn}(__v, {p}{extra})"), ndigits).alias(
                _q_alias(p)
            )
            for p in probs
        ]
    )


def windowed_anomaly(
    events: DataFrame,
    unit: str = "hour",
    history: int = 6,
    min_history: int = 3,
) -> DataFrame:
    """Per-window volume-anomaly score: each (window, event type)
    cell's event count z-scored against that type's TRAILING
    baseline — the mean/stddev of its preceding `history` windows
    (the alerting shape of telemetry pipelines: z >= 3 pages
    someone). Cells with fewer than min_history preceding windows,
    or a zero-variance baseline, score NULL (no baseline, no alarm).
    NULL event times carry no window position and are excluded (the
    identity/position rule of cohort_retention/funnel).

    Scale shape: one groupBy(window, type) with map-side combine
    collapses raw events to O(windows x types) cells; the window
    function then runs per TYPE over its window series — thousands
    of rows per partition even at 100 TB/day, so the sort inside
    each hash partition is trivial and no further shuffle of event
    data ever happens (the classic pre-aggregate-then-window plan).

    Determinism (hash-oracle): the frame sums are exact int64
    (counts and squared counts — exact in double below 2^53, which a
    per-window per-type event count satisfies by orders of
    magnitude); mean and variance are FIXED-SHAPE double expressions
    over those exact sums (IEEE division/multiply/subtract/sqrt are
    correctly rounded, so both engines produce bit-identical
    doubles) — no library-soft transcendentals anywhere, so no
    decimal quantization is needed, unlike the ln-based scores."""
    from hillview_spark.operators.histogram import trunc_ntz

    if min_history < 2:
        # the sample-variance denominator is cnt-1: a 1-window
        # baseline has no variance and would divide by zero under
        # ANSI — refuse loudly instead of silently clamping
        raise ValueError(
            f"min_history must be >= 2, got {min_history!r}"
        )
    if history < min_history:
        # the frame can never reach min_history rows: every cell
        # would silently score NULL (and history <= 0 is an invalid
        # window frame outright) — loud config guard
        raise ValueError(
            f"history ({history!r}) must be >= min_history"
            f" ({min_history!r})"
        )
    cells = (
        events.where(F.col("ts").isNotNull())
        .groupBy(
            trunc_ntz(F.col("ts"), unit).alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    frame = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-int(history), -1)
    )
    cnt = F.count(F.lit(1)).over(frame)
    sm = F.sum("n_events").over(frame).cast("double")
    # square in DECIMAL(19,0): a long*long square is ANSI-fatal past
    # ~1.2e9 events per cell (6 frame terms x (1.2e9)^2 > 2^63) — a
    # single dominant type at 100 TB/day can reach that; the decimal
    # product/sum holds to ~1e38 and converts to the SAME double
    # (r11 review, overflow class; oracle squares through DECIMAL in
    # lockstep)
    nd = F.col("n_events").cast("decimal(19,0)")
    sq = F.sum(nd * nd).over(frame).cast("double")
    cd = cnt.cast("double")
    # sample variance from exact frame sums; greatest() absorbs the
    # tiny negative cancellation residue when the frame is constant
    mean = sm / cd
    var = F.greatest(
        (sq - (sm * sm) / cd) / (cd - F.lit(1.0)), F.lit(0.0)
    )
    # the cnt guard runs FIRST (CASE is lazy), so the divisions and
    # the cd-1 denominator never see an empty or singleton frame
    guarded = F.when(
        cnt >= F.lit(int(min_history)),
        F.when(
            var > F.lit(0.0),
            (F.col("n_events").cast("double") - mean) / F.sqrt(var),
        ),
    )
    return cells.select(
        "window_start",
        "event_type",
        "n_events",
        F.when(cnt >= F.lit(int(min_history)), mean).alias("baseline_mean"),
        guarded.alias("z_score"),
    )


def stream_windowed_anomaly(
    spark: SparkSession,
    events_dir: str,
    schema,
    unit: str = "hour",
    history: int = 6,
    min_history: int = 3,
    watermark: str = "2 hours",
) -> DataFrame:
    """Structured Streaming twin of windowed_anomaly. Window
    functions (the trailing frame) are unsupported in streaming
    plans, and a stateful op cannot chain after a streaming
    aggregate — so this is the applyInPandasWithState route
    (stream_sessionize's mechanism): per event-type state carries
    the OPEN windows' partial counts plus the trailing deque of the
    last `history` CLOSED window counts. A window closes — scores
    against the deque and emits — when the watermark passes its end,
    driven by an event-time timeout armed at the earliest open
    window's end (so closing doesn't need further data for the key).

    Twin parity: windows close in start order (the watermark is
    monotone), so every closed window scores against exactly the
    preceding closed cells — the batch twin's rowsBetween(-history,
    -1) frame over present cells — and the z arithmetic below is the
    SAME IEEE double expression shape, so emitted rows match the
    batch twin bit-for-bit on data with no beyond-watermark
    stragglers (pytest-pinned). Declared divergences, shared with
    every stream twin: NULL event times are dropped (no event-time
    position) and a straggler landing in an already-closed window is
    dropped where batch would count it.

    State is O(open windows + history) per type — bounded by the
    watermark horizon, never by the stream's length."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    unit_seconds = {"minute": 60, "hour": 3600, "day": 86400}
    if unit not in unit_seconds:
        # month/year are calendar units: epoch-mod flooring (below)
        # only equals trunc_ntz for fixed-length units
        raise ValueError(
            f"unit must be one of {sorted(unit_seconds)}, got {unit!r}"
        )
    if min_history < 2:
        raise ValueError(f"min_history must be >= 2, got {min_history!r}")
    if history < min_history:
        raise ValueError(
            f"history ({history!r}) must be >= min_history"
            f" ({min_history!r})"
        )
    unit_us = unit_seconds[unit] * 1_000_000
    history = int(history)

    out_type = StructType([
        StructField("window_start", TimestampType()),
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("baseline_mean", DoubleType()),
        StructField("z_score", DoubleType()),
    ])
    state_type = StructType([
        StructField("open_starts", ArrayType(LongType())),
        StructField("open_counts", ArrayType(LongType())),
        StructField("hist_counts", ArrayType(LongType())),
        StructField("last_closed_us", LongType()),
    ])

    def _close_ready(etype, open_map, hist, wm_us):
        """Close every open window whose END the watermark passed, in
        start order; score each against the trailing deque with the
        batch twin's exact double-expression shape."""
        import math

        out = []
        for ws in sorted(open_map):
            if ws + unit_us > wm_us:
                break
            n = open_map.pop(ws)
            mean = z = None
            cnt = len(hist)
            if cnt >= min_history:
                cd = float(cnt)
                sm = float(sum(hist))
                sq = float(sum(c * c for c in hist))
                mean = sm / cd
                var = max((sq - (sm * sm) / cd) / (cd - 1.0), 0.0)
                if var > 0.0:
                    z = (float(n) - mean) / math.sqrt(var)
            out.append((ws, etype, n, mean, z))
            hist.append(n)
            del hist[:-history]
        return out

    def _emit(rows):
        return pd.DataFrame(
            {
                "window_start": [
                    pd.Timestamp(r[0], unit="us") for r in rows
                ],
                "event_type": [r[1] for r in rows],
                "n_events": [r[2] for r in rows],
                "baseline_mean": [r[3] for r in rows],
                "z_score": [r[4] for r in rows],
            }
        )

    def fn(key, pdfs, state: "GroupState"):
        etype = key[0]
        if state.exists:
            open_starts, open_counts, hist, last_closed = state.get
            open_map = dict(zip(open_starts, open_counts))
            hist = list(hist)
        else:
            open_map, hist, last_closed = {}, [], None
        wm_us = state.getCurrentWatermarkMs() * 1000
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts = pdf["ts"].dropna()
                if ts.empty:
                    continue
                us = ts.astype("int64") // 1000
                for ws, n in (us - us % unit_us).value_counts().items():
                    ws = int(ws)
                    if last_closed is not None and ws <= last_closed:
                        continue  # straggler in a closed window
                    open_map[ws] = open_map.get(ws, 0) + int(n)
        closed = _close_ready(etype, open_map, hist, wm_us)
        if closed:
            last_closed = closed[-1][0]
        if not open_map and not hist:
            # nothing open, nothing learned (every row was NaT or a
            # dropped straggler): keep no state rather than arming a
            # timeout that re-delivers an empty tuple forever
            if state.exists:
                state.remove()
        else:
            starts = sorted(open_map)
            state.update((
                starts,
                [open_map[s] for s in starts],
                hist,
                last_closed,
            ))
            if starts:
                # wake when the watermark passes the earliest open
                # end (must stay above the current watermark or
                # Spark rejects the timestamp)
                state.setTimeoutTimestamp(max(
                    (starts[0] + unit_us) // 1000,
                    state.getCurrentWatermarkMs() + 1,
                ))
        if closed:
            yield _emit(closed)

    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.withWatermark("ts", watermark)
        .select("event_type", "ts")
        .groupBy("event_type")
        .applyInPandasWithState(
            fn, out_type, state_type, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_windowed_distinct_approx(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
    col: str = "user_id",
    rsd: float = 0.05,
) -> DataFrame:
    """The SCALE sibling of stream_windowed_distinct: HyperLogLog++
    (approx_count_distinct — a sketch aggregate, so streaming plans
    DO support it, unlike exact distinct) per tumbling window. The
    exact twin's dedup state is O(entities per horizon) — at
    100 TB/day of events that is the state store's limit; the HLL
    state is a fixed ~kilobytes per (window, type) cell regardless
    of cardinality, the NoisyHLogLog/HLogLogSketch trade the
    reference makes for the same reason (sketches/HLogLogSketch.java).
    Engine-specific estimates → pytest-only by declared design
    (bounded relative error vs the exact twin), same policy as
    stats.distinct_count_approx."""
    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), "event_type")
        .agg(F.approx_count_distinct(col, rsd).alias("n_distinct_approx"))
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_distinct_approx",
        )
    )


def sliding_window_counts(
    events: DataFrame,
    window_minutes: int = 60,
    slide_minutes: int = 15,
) -> DataFrame:
    """Sliding (hopping) window counts per event type: each event
    lands in window/slide overlapping windows. Spark expands the
    assignment JVM-side inside the window() expression (no Python,
    no explode of user data); the shuffle carries (window, type)
    partial counts with map-side combine, so cost scales with
    window-count × |types|, not with the overlap factor times the
    fact table."""
    w = F.window(
        "ts", f"{window_minutes} minutes", f"{slide_minutes} minutes"
    )
    return (
        events.groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(numeric.finite_value(events, "value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("win.start").alias("window_start"),
                "event_type", "n_events", "sum_value")
    )


def stream_sliding_counts(
    spark: SparkSession,
    events_dir: str,
    schema,
    window_duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Structured Streaming twin of sliding_window_counts: the same
    hopping-window groupBy under readStream. The watermark bounds
    state to (horizon / slide) open windows per type; closed windows
    are evicted once the watermark passes their end."""
    stream = _event_time_stream(spark, events_dir, schema)
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration, slide).alias("win"),
                 "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"),
                "event_type", "n_events")
    )


def cohort_retention(
    events: DataFrame, id_col: str = "user_id"
) -> DataFrame:
    """Cohort retention: users grouped by their FIRST-seen day, and
    for each (cohort, day-offset) the count of cohort members active
    that many days later — the standard product-analytics retention
    triangle. offset 0 rows are the cohort sizes.

    NULL users and NULL event times carry no identity/position and
    are excluded (the countDistinct/watermark rule the other event
    ops apply; a SQL oracle's equi-join would drop NULL users
    anyway — window-based grouping would NOT, class-9).

    Scale shape (r15 opt): ONE corpus-scale shuffle. groupBy(user)
    with collect_set(day) dedups (user, day) map-side exactly like
    the old standalone distinct did, and ships each user's active-day
    SET once; first-seen is then array_min of that set and the
    day offsets explode from it PER ROW — the former second shuffle
    (first-seen aggregate) and the user-keyed join vanish, as does
    the persist (single consumer chain). Exploding the distinct set
    gives one row per (user, day), so count(*) IS the distinct-user
    count — no second distinct state. A user's set is bounded by the
    calendar, so the fattest row is ~days-of-history long — no skew
    cliff."""
    base = events.where(
        F.col("ts").isNotNull() & F.col(id_col).isNotNull()
    ).select(F.col(id_col).alias("__u"), F.to_date("ts").alias("__day"))
    per_user = base.groupBy("__u").agg(F.collect_set("__day").alias("__days"))
    return (
        per_user.select(
            F.array_min("__days").alias("cohort"),
            F.explode("__days").alias("__day"),
        )
        .groupBy(
            "cohort",
            F.datediff(F.col("__day"), F.col("cohort"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def conversion_time(
    events: DataFrame,
    from_step: str = "click",
    to_step: str = "purchase",
    id_col: str = "user_id",
    probs: tuple[float, ...] = (0.5, 0.9),
    ndigits: int = 4,
) -> DataFrame:
    """Time-to-convert: one row with the converting-user count and
    percentiles of the seconds from a user's FIRST from_step event
    to their first to_step event STRICTLY after it (funnel_counts'
    ordering rule, funnel depth 2, measured instead of counted).
    NULL users/times excluded (identity/position rule). Gaps are
    exact integer microseconds / the literal 1e6, percentiles ride
    the quantile_cont parity.

    Scale shape: two type-filtered scans (pushdown) -> per-user min
    aggregates (|users| rows, hash-partitioned by user, partitioning
    reused by the equi-join) -> one global percentile over
    CONVERTING USERS, never events."""
    from hillview_spark.operators.stats import _q_alias

    base = events.where(
        F.col("ts").isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__u"), "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__us"),
    )
    first_from = (
        base.where(F.col("event_type") == from_step)
        .groupBy("__u").agg(F.min("__us").alias("__t0"))
    )
    conv = (
        base.where(F.col("event_type") == to_step)
        .join(first_from, "__u")
        .where(F.col("__us") > F.col("__t0"))
        .groupBy("__u")
        # __t0 is constant per user after the equi-join (first_from
        # has one row per user) — min() states that deterministically
        .agg(F.min("__us").alias("__t1"), F.min("__t0").alias("__t0f"))
        .select(
            ((F.col("__t1") - F.col("__t0f")).cast("double")
             / F.lit(1000000.0)).alias("__gap")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        *[
            F.round(F.expr(f"percentile(__gap, {p})"), ndigits).alias(
                _q_alias(p)
            )
            for p in probs
        ],
    )


def rolling_active_users(
    events: DataFrame, window_days: int = 7, id_col: str = "user_id"
) -> DataFrame:
    """Rolling distinct actives per day — the DAU/WAU/MAU engagement
    series: for each calendar day WITH activity, the distinct users
    active in the trailing window_days window ending that day. NULL
    users/times excluded (identity/position rule). Days with zero
    activity produce no row (the sparse convention), and the window
    anchors on ACTIVE days only.

    Scale shape: the raw scan collapses to DISTINCT (user, day)
    first — O(users x active-days), the retention-triangle
    discipline — then each pair explodes into its window_days member
    days (array expression, JVM-side) and ONE countDistinct per day
    closes it; an anchor semi-join keeps only days that actually had
    activity. Shuffles carry users x days x window, never raw
    events."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days!r}")
    act = events.where(
        F.col("ts").isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__u"), F.to_date("ts").alias("__day")
    ).distinct()
    from hillview_spark import cache

    # feeds the member-day explode AND the active-day anchor
    act = cache.persist(act)
    exploded = act.select(
        "__u",
        F.explode(
            F.sequence(
                F.lit(0), F.lit(int(window_days) - 1)
            )
        ).alias("__off"),
        "__day",
    ).select(
        "__u", F.date_add(F.col("__day"), F.col("__off")).alias("day")
    )
    anchors = act.select(F.col("__day").alias("day")).distinct()
    return (
        exploded.join(anchors, "day")
        .groupBy("day")
        .agg(F.countDistinct("__u").alias("active_users"))
    )


def rolling_active_users_sketch(
    events: DataFrame,
    window_days: int = 7,
    id_col: str = "user_id",
    exact: bool = True,
    lg_config_k: int = 12,
) -> DataFrame:
    """Sketch-merged sibling of rolling_active_users — the 100-TB
    shape for DAU/WAU/MAU. The exact twin explodes every DISTINCT
    (user, day) pair into its window_days member days, so the merge
    shuffle carries users x days x window rows (30x the pair frame
    at MAU). Here the raw scan collapses to ONE per-day user-set
    SKETCH first, and only sketches cross the window: the shuffle is
    days x sketch-bytes, independent of user count AND of
    window_days' multiplier on users.

    exact=True (default): Spark's bucketed-bitmap aggregate — user
    ids map to (bucket, bit) via bitmap_bucket_number/_bit_position,
    bitmap_construct_agg builds a per-(day, bucket) bitmap with
    map-side partial merge (de-dup is free: it's a bitmap, so the
    twin's DISTINCT pre-pass disappears), bitmap_or_agg unions the
    trailing window, and sum(bitmap_count) closes each anchor day.
    Bit-for-bit equal to the exact twin (pytest-pinned). Premise:
    non-negative integral ids (the surrogate-key norm; the bit
    position is a bucket offset).

    exact=False: Datasketches HLL — hll_sketch_agg per day,
    hll_union_agg across the window, hll_sketch_estimate per anchor.
    Bounded relative error ~1.04/sqrt(2^lg_config_k) (~1.6% at the
    default lgK=12, pytest-pinned at 5%); sketches are ~2^lgK bytes,
    so a year of MAU merges 365 x 4 KiB regardless of user count.

    Same conventions as the twin: NULL users/times excluded, days
    with zero activity produce no row, windows anchor on active days
    only. pytest-only vs the exact twin (the distinct_count_approx
    policy: non-SQL-expressible sketch internals, oracled through
    the exact sibling instead)."""
    if window_days < 1:
        raise ValueError(f"window_days must be >= 1, got {window_days!r}")
    act = events.where(
        F.col("ts").isNotNull() & F.col(id_col).isNotNull()
    ).select(F.col(id_col).alias("__u"), F.to_date("ts").alias("__day"))
    if exact:
        per_day = act.groupBy(
            "__day", F.bitmap_bucket_number("__u").alias("__bucket")
        ).agg(
            F.bitmap_construct_agg(F.bitmap_bit_position("__u"))
            .alias("__bm")
        )
    else:
        per_day = act.groupBy("__day").agg(
            F.hll_sketch_agg("__u", F.lit(int(lg_config_k))).alias("__sk")
        )
    from hillview_spark import cache

    # feeds the member-day explode AND the active-day anchor
    per_day = cache.persist(per_day)
    anchors = per_day.select(F.col("__day").alias("day")).distinct()
    exploded = per_day.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(window_days) - 1))
        ).alias("__off"),
    ).withColumn("day", F.date_add(F.col("__day"), F.col("__off")))
    joined = exploded.join(anchors, "day")
    if exact:
        per_bucket = joined.groupBy("day", "__bucket").agg(
            F.bitmap_or_agg("__bm").alias("__bm")
        )
        return per_bucket.groupBy("day").agg(
            F.sum(F.bitmap_count("__bm")).alias("active_users")
        )
    return joined.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk"))
        .alias("active_users")
    )


def session_stats(
    events: DataFrame,
    gap_minutes: int = 30,
    probs: tuple[float, ...] = (0.5, 0.9),
    ndigits: int = 4,
) -> DataFrame:
    """Corpus-level session summary: one row with the session count
    and percentiles of events-per-session and session duration
    (seconds) — the engagement dashboard header over sessionize's
    output. Both inputs to the percentiles are EXACT integers
    (counts; second-truncated bound difference), so the
    percentile == quantile_cont parity applies directly.

    Scale: sessionize's one user-partition shuffle, then a single
    global aggregate whose state is the session-level value lists —
    sessions, not events (swap in percentile_approx at extreme
    session counts, windowed_quantiles' documented trade)."""
    from hillview_spark.operators.stats import _q_alias

    s = sessionize(events, gap_minutes)
    dur = (
        F.unix_seconds(F.col("session_end").cast("timestamp"))
        - F.unix_seconds(F.col("session_start").cast("timestamp"))
    ).cast("double")
    ev_d = F.col("n_events").cast("double")
    aggs = [F.count(F.lit(1)).alias("n_sessions")]
    for p in probs:
        aggs.append(
            F.round(
                F.expr(f"percentile(__ev, {p})"), ndigits
            ).alias(f"events_{_q_alias(p)}")
        )
    for p in probs:
        aggs.append(
            F.round(
                F.expr(f"percentile(__dur, {p})"), ndigits
            ).alias(f"duration_{_q_alias(p)}")
        )
    return s.select(
        ev_d.alias("__ev"), dur.alias("__dur")
    ).agg(*aggs)


def retention_rate(
    events: DataFrame, id_col: str = "user_id"
) -> DataFrame:
    """Normalized retention triangle: cohort_retention's counts
    divided by the cohort size (the offset-0 row), the
    percent-retained view product analytics actually reads. The rate
    is one double division of exact longs (bit-identical
    cross-engine), rounded to 4 dp.

    Scale: the triangle is O(cohorts x offsets) rows — the size side
    is |cohorts| rows, so Catalyst broadcasts it; the triangle frame
    persists because it feeds both the size filter and the join."""
    from hillview_spark import cache

    tri = cache.persist(cohort_retention(events, id_col))
    size = tri.where(F.col("day_offset") == 0).select(
        "cohort", F.col("n_users").alias("__size")
    )
    return tri.join(size, "cohort").select(
        "cohort",
        "day_offset",
        "n_users",
        F.round(
            F.col("n_users").cast("double")
            / F.col("__size").cast("double"),
            4,
        ).alias("retention"),
    )


def funnel_counts(
    events: DataFrame,
    steps: tuple[str, ...] = ("click", "view", "purchase"),
    id_col: str = "user_id",
) -> DataFrame:
    """Funnel analysis: how many users complete each ordered step —
    the first step-k event must come STRICTLY after the user's
    first-completion time of step k-1 (first click, then the first
    view after that click, then the first purchase after that view).
    Output: (step, event_type, n_users), one row per step, n_users
    non-increasing. NULL users/times excluded (identity/position
    rule, as cohort_retention).

    Scale shape (r16 rewrite): ONE type-filtered scan (event_type IN
    steps pushed down) and ONE corpus shuffle — groupBy(user) collects
    each user's in-funnel (ts, step) pairs sorted by time, and a
    forward fold over that sorted array computes the first-completion
    chain exactly (state[k] = min ts of a step-k event strictly after
    state[k-1]; any qualifying element sorts after the one that set
    state[k-1], so one ascending pass suffices, ties excluded by the
    strict >). The per-user array is bounded by that user's in-funnel
    events (same bound transition_counts carries). The r11 shape ran
    a scan + join + aggregate + persist PER STEP (3 scans, 2 joins,
    3 persisted frames for the default funnel); only the |users|-row
    depth frame persists now, feeding the K count branches.
    Duplicate step names keep the iterative semantics: slot k accepts
    an event whose type equals steps[k] (a plan-time literal index
    set), so ("click", "click") means a second click strictly after
    the first. Never a cartesian, never a window over raw events;
    len(steps) is small and fixed."""
    if not steps:
        raise ValueError("steps must name at least one event type")
    from hillview_spark import cache

    k_steps = len(steps)
    # first step index whose type matches the event (duplicates in
    # steps resolved per-slot below via the literal index sets)
    iexpr = F
    for i, st in enumerate(steps):
        iexpr = iexpr.when(F.col("event_type") == F.lit(st), F.lit(i))
    typed = events.where(
        F.col("ts").isNotNull()
        & F.col(id_col).isNotNull()
        & F.col("event_type").isin(*steps)
    ).select(
        F.col(id_col).alias("__u"),
        # micros long: injective on the micros-precision ts, cheapest
        # sort/compare type (session TZ is UTC, so the ntz cast is a
        # stable relabel)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("__ts"),
        iexpr.alias("__i"),
    )

    def _advance(acc, e):
        # one funnel-chain transition: slot k takes this event's ts
        # iff the slot is open, the event's type is steps[k], and the
        # previous slot closed STRICTLY earlier (old-acc reads keep
        # one event from completing two steps at its own instant)
        slots = []
        for k in range(k_steps):
            match_k = [i for i, s in enumerate(steps) if s == steps[k]]
            cond = acc[k].isNull() & e["__i"].isin(match_k)
            if k > 0:
                cond = cond & acc[k - 1].isNotNull() & (
                    e["__ts"] > acc[k - 1]
                )
            slots.append(F.when(cond, e["__ts"]).otherwise(acc[k]))
        return F.array(*slots)

    depth = (
        typed.groupBy("__u")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__ts"), F.col("__i")))
            ).alias("__evs")
        )
        .select(
            F.size(
                F.filter(
                    F.aggregate(
                        "__evs",
                        F.array(
                            *[F.lit(None).cast("bigint") for _ in steps]
                        ),
                        _advance,
                    ),
                    lambda x: x.isNotNull(),
                )
            ).alias("__depth")
        )
    )
    depth = cache.persist(depth)
    rows = [
        depth.where(F.col("__depth") > k)
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.lit(k + 1).alias("step"),
            F.lit(st).alias("event_type"),
            "n_users",
        )
        for k, st in enumerate(steps)
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def transition_counts(
    events: DataFrame, id_col: str = "user_id"
) -> DataFrame:
    """Event-flow transition matrix: for each user's TYPED events in
    time order, count (from_type, to_type) adjacent pairs — the
    Markov/sankey shape behind "where do users go after a click".
    NULL users/times are excluded (identity/position rule), and so
    are NULL event TYPES: a NULL type inside a sequence would be
    indistinguishable from lead()'s end-of-sequence NULL, so
    transitions are defined between typed events only (documented,
    oracle in lockstep). Ties on ts order by event_id — a unique
    tiebreak, so both engines see the SAME total order (a bare ts
    order would make lead() nondeterministic on same-instant events).

    Scale shape: ONE shuffle partitions by user; the per-user sort
    inside each partition is over that user's events (bounded); the
    (from, to) aggregate is |types|^2 cells with map-side combine.
    Never a self-join, never a cartesian.

    Domain premise (like the TPC-H oracle-domain premises): event_id
    is a NON-NULL unique key — a NULL id on a tied ts would order
    NULLS FIRST in Spark but NULLS LAST in DuckDB/ANSI, so the
    tie-break only pins a cross-engine total order over non-NULL
    ids (the fixture's event_id is its primary key)."""
    w = (
        Window.partitionBy("__u")
        .orderBy("ts", "event_id")
    )
    typed = events.where(
        F.col("ts").isNotNull()
        & F.col(id_col).isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        F.col(id_col).alias("__u"), "event_id", "ts",
        F.col("event_type").alias("from_type"),
    )
    return (
        typed.withColumn("to_type", F.lead("from_type").over(w))
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


def click_purchase_pairs(
    events: DataFrame, gap_minutes: int = 30
) -> DataFrame:
    """Attribution interval join: for every click, the purchases by
    the same user within the next gap_minutes. Equi-join on user_id
    (the selective key — Spark shuffles both sides once) with the
    time interval as a post-join range predicate; at 100 TB the
    per-user event lists are small, so the range filter runs on
    short runs, never a cartesian."""
    gap_us = gap_minutes * 60_000_000
    clicks = events.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("purchase_us"),
    )
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("purchase_us") > F.col("click_us"))
            & (F.col("purchase_us") <= F.col("click_us") + F.lit(gap_us)),
        )
        .select(
            F.col("c_user").alias("user_id"), "click_id", "purchase_id",
            ((F.col("purchase_us") - F.col("click_us")) / F.lit(1_000_000.0))
            .alias("gap_seconds"),
        )
    )


def stream_click_purchase_join(
    spark: SparkSession,
    events_dir: str,
    schema,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join (the streaming twin of
    click_purchase_pairs): both sides carry a watermark and the join
    condition bounds purchase time to (click, click + gap], so Spark
    can evict click state once the purchase-side watermark passes
    click + gap — state is O(events per horizon). Inner join emits
    matches immediately; no window close needed."""
    def side(event_type: str, a: str) -> DataFrame:
        s = _event_time_stream(spark, events_dir, schema)
        return (
            s.where(F.col("event_type") == event_type)
            .select(F.col("user_id").alias(f"{a}_user"),
                    F.col("event_id").alias(f"{a}_id"),
                    F.col("ts").cast("timestamp").alias(f"{a}_ts"))
            .withWatermark(f"{a}_ts", watermark)
        )

    clicks, purchases = side("click", "c"), side("purchase", "p")
    return (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts")
               + F.expr(f"INTERVAL {gap_minutes} MINUTES")),
        )
        .select(F.col("c_user").alias("user_id"),
                F.col("c_id").alias("click_id"),
                F.col("p_id").alias("purchase_id"))
    )
