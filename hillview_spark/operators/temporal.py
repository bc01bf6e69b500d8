"""Temporal joins Spark lacks as built-ins: as-of join and
interval/range join. (Extension beyond the Hillview reference —
SURVEY.md §2.4; the brief's canonical "custom operator" examples.)

Both are expressed as compositions of existing DataFrame operators —
no UDF, no cartesian:

- as-of join: union the two sides tagged by origin, then one window
  per key carries the latest right-side payload forward; left rows
  read it. ONE shuffle on the join key, O(1) state per row — the
  merge-scan shape a time-series engine uses, expressed declaratively
  so Catalyst plans it.
- range join: equi-join on a coarse time bucket (intervals explode to
  the buckets they overlap) + residual BETWEEN filter. Turns the
  quadratic point-interval theta-join into an inverted-index join
  whose cost tracks actual overlaps; bucket_width trades replication
  against candidate precision.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hillview_spark import numeric

# Microsecond epoch from a TIMESTAMP_NTZ (cast-to-long would truncate
# to seconds; unix_micros would re-enter the session timezone).
# The column name is backtick-quoted (and backticks doubled) — an
# unquoted interpolation would fail to parse for names with spaces/
# hyphens/reserved words, and a crafted name could inject SQL.
_EPOCH_US = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', `{c}`)"


def _epoch_us(col_name: str):
    return F.expr(_EPOCH_US.format(c=col_name.replace("`", "``")))


def asof_join(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    right_cols: list[str],
    suffix: str = "_r",
    chunk_seconds: int | None = None,
) -> DataFrame:
    """For every left row, attach the MOST RECENT right row (same key,
    right time <= left time, inclusive) — the classic as-of join.

    Output: all left columns plus ``<time_col><suffix>`` (the matched
    right row's time) and ``<c><suffix>`` for each requested right
    column; NULLs when no right row precedes the left row.

    Determinism: ties on (key, time) between left and right resolve
    inclusive (right visible to a left row at the same instant); if
    the right side can hold duplicate (key, time) rows, pre-aggregate
    it — the result is otherwise an arbitrary one of the duplicates.

    NULL semantics (SQL equality, like DuckDB ASOF JOIN and pandas
    merge_asof): a NULL in any key column or in the right time means
    NO match — NULL-key/NULL-time left rows are kept with NULL
    payload, NULL-key/NULL-time right rows match nothing.

    Skew: the default path serializes each key's full history into one
    window task — fine for balanced keys, a straggler when one key
    (null user, bot traffic) owns a large share of 100 TB. Pass
    ``chunk_seconds`` to bound task size by time range instead: both
    sides get a (key, time-chunk) window, and the latest right payload
    of every earlier chunk is carried forward via a per-chunk spine
    (O(keys x chunks) rows — independent of row skew) injected as a
    synthetic row at each chunk start. Results are identical to the
    default path for any chunk size."""
    if chunk_seconds is not None:
        return _asof_join_chunked(
            left, right, time_col, by_cols, right_cols, suffix, chunk_seconds
        )
    payload = F.struct(
        F.col(time_col).alias("__t"), *[F.col(c) for c in right_cols]
    )
    l = left.withColumn("__is_left", F.lit(1))
    # a NULL right timestamp can satisfy no as-of predicate
    # (right_ts <= left_ts is never true for NULL) — but NULL sorts
    # FIRST in the ascending window, so without the filter it would
    # match every left row as "earliest history". A NULL in any right
    # KEY column likewise matches nothing (SQL equality semantics —
    # DuckDB ASOF JOIN ON key =, pandas merge_asof, and range_join in
    # this file all agree; Window.partitionBy alone would group NULL
    # keys together and hand NULL-key left rows a NULL-key right
    # payload, r10 review). NULL-key LEFT rows are still kept, with
    # the no-match NULLs: their partition simply holds no right rows.
    r = (
        right.where(_right_matchable(time_col, by_cols))
        .select(*by_cols, time_col, payload.alias("__rpayload"))
        .withColumn("__is_left", F.lit(0))
    )
    u = l.unionByName(r, allowMissingColumns=True)
    # right (0) sorts before left (1) at equal times -> inclusive match
    w = (
        Window.partitionBy(*by_cols)
        .orderBy(time_col, "__is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("__m", F.last("__rpayload", ignorenulls=True).over(w))
    out = matched.where(F.col("__is_left") == 1).select(
        *left.columns,
        F.col("__m.__t").alias(f"{time_col}{suffix}"),
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def _right_matchable(time_col: str, by_cols: list[str]):
    """Right rows that can satisfy SOME as-of predicate: non-NULL
    time and non-NULL in every key column (shared by the default and
    chunked paths so they cannot drift)."""
    cond = F.col(time_col).isNotNull()
    for c in by_cols:
        cond = cond & F.col(c).isNotNull()
    return cond


def _asof_join_chunked(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    by_cols: list[str],
    right_cols: list[str],
    suffix: str,
    chunk_seconds: int,
) -> DataFrame:
    """Skew-bounded as-of join: windows partition by (key, chunk) so no
    task sorts more than one chunk of one key. Cross-chunk visibility
    is restored exactly by carry-forward: the latest right payload per
    (key, chunk) is aggregated (map-side combinable), the running
    'latest so far' over *chunks* is computed on that tiny relation,
    and injected into each chunk as a synthetic row sorting before all
    real rows (chunk start, __is_left = -1)."""
    width_us = chunk_seconds * 1_000_000
    t_us = _epoch_us(time_col)
    # floor, not cast: cast truncates toward zero, so pre-1970
    # timestamps would land in a chunk whose synthetic carry row
    # (materialized at __chunk * width) sorts AFTER them and the
    # carried payload becomes invisible
    chunk = F.floor(t_us / width_us).cast("long")
    payload = F.struct(
        F.col(time_col).alias("__t"), *[F.col(c) for c in right_cols]
    )
    l = left.withColumn("__chunk", chunk).withColumn("__is_left", F.lit(1))
    # same right-side eligibility as the default path (r10 review: the
    # chunked path skipped BOTH filters, so a NULL-ts right row shared
    # the NULL chunk with NULL-ts left rows and became a phantom
    # match, violating the 'identical for any chunk size' contract)
    r = (
        right.where(_right_matchable(time_col, by_cols))
        .select(*by_cols, time_col, payload.alias("__rpayload"))
        .withColumn("__chunk", chunk)
        .withColumn("__is_left", F.lit(0))
    )
    # latest right payload inside each (key, chunk): max over structs
    # whose first field is the time — partial-aggregated before the
    # shuffle, so the shuffle carries O(keys x chunks) rows
    last_in_chunk = r.groupBy(*by_cols, "__chunk").agg(
        F.max("__rpayload").alias("__last")
    )
    # spine = every (key, chunk) either side touches; carry = latest
    # payload among strictly-earlier chunks (small window: one row per
    # chunk per key, immune to row-count skew)
    spine = (
        l.select(*by_cols, "__chunk")
        .distinct()
        .unionByName(last_in_chunk.select(*by_cols, "__chunk"))
        .distinct()
        .join(last_in_chunk, [*by_cols, "__chunk"], "left")
    )
    wc = (
        Window.partitionBy(*by_cols)
        .orderBy("__chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    synth = (
        spine.withColumn("__carry", F.last("__last", ignorenulls=True).over(wc))
        .where(F.col("__carry").isNotNull())
        .select(
            *by_cols,
            "__chunk",
            F.expr(
                f"timestampadd(MICROSECOND, __chunk * {width_us}, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ).alias(time_col),
            F.col("__carry").alias("__rpayload"),
            F.lit(-1).alias("__is_left"),
        )
    )
    u = l.unionByName(r, allowMissingColumns=True).unionByName(
        synth, allowMissingColumns=True
    )
    # synthetic (-1) sorts before right (0) before left (1) at equal
    # times: a real right row at the exact chunk start overrides the
    # (strictly older) carried payload, and right stays visible to
    # left at the same instant
    w = (
        Window.partitionBy(*by_cols, "__chunk")
        .orderBy(time_col, "__is_left")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = u.withColumn("__m", F.last("__rpayload", ignorenulls=True).over(w))
    return matched.where(F.col("__is_left") == 1).select(
        *left.columns,
        F.col("__m.__t").alias(f"{time_col}{suffix}"),
        *[F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    by_cols: list[str] | None = None,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Join each point row to every interval row containing it
    (start <= point <= end, plus optional equality keys) WITHOUT a
    nested-loop join: both sides get a coarse time-bucket key
    (intervals explode to every bucket they overlap), the join is an
    equi-join on (keys..., bucket), and the exact BETWEEN predicate
    filters residual candidates. Interval replication factor is
    ceil(duration / bucket_seconds) + 1 — size bucket_seconds near
    the typical interval length."""
    by_cols = by_cols or []
    width_us = bucket_seconds * 1_000_000
    p_us = _epoch_us(point_col)
    s_us = _epoch_us(start_col)
    e_us = _epoch_us(end_col)
    p = points.withColumn("__bucket", (p_us / width_us).cast("long"))
    i = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence((s_us / width_us).cast("long"), (e_us / width_us).cast("long"))
        ),
    )
    joined = p.join(i, [*by_cols, "__bucket"]).where(
        (F.col(point_col) >= F.col(start_col))
        & (F.col(point_col) <= F.col(end_col))
    )
    return joined.drop("__bucket")


def moving_aggregate(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
    n_preceding: int = 3,
    chunk_seconds: int | None = None,
    strict: bool = True,
) -> DataFrame:
    """Per-key moving window aggregates over event time: for each
    event, the rolling sum/avg/count of the last (n_preceding + 1)
    events of the same key. ONE shuffle on the key; within a
    partition the window is a single sort + linear scan (Spark's
    WindowExec), so cost is O(rows log run) regardless of window
    width. The rolling sum is decimal-exact (order-independent
    cross-engine); the average is one double division.

    The (ts, tiebreak) ordering makes frame contents deterministic
    under duplicate timestamps.

    Skew: the default path sorts each key's full history in one window
    task. Pass ``chunk_seconds`` to bound tasks by time range instead:
    windows partition by (key, time-chunk) and the last n_preceding
    rows of each chunk are replicated into the key's NEXT OCCUPIED
    chunk as ghost rows (counted in frames, dropped from output) —
    empty chunks between two occupied ones are skipped, so sparse
    gaps in a key's timeline don't break frames. ENVELOPE: exact
    whenever every occupied non-final chunk of a key holds >=
    n_preceding events; a row whose frame reaches back beyond the
    immediately preceding occupied chunk (possible only when that
    chunk had fewer than n_preceding rows) would see a shortened
    frame. With ``strict=True`` (default) the envelope is VALIDATED
    up front (one aggregate job over (key, chunk) counts) and a
    violation raises ValueError naming the worst offender — increase
    chunk_seconds or pass strict=False to accept shortened frames on
    those rows. Hot keys — the reason to chunk — satisfy the
    envelope by orders of magnitude; leave chunk_seconds unset for
    sparse keys.

    Rows with NULL event time are DROPPED: they have no position in
    the rolling timeline, and the engines' opposite NULL sort
    conventions (Spark NULLS FIRST, DuckDB NULLS LAST) would
    otherwise shift every frame near them."""
    events = events.where(F.col(ts_col).isNotNull())
    if chunk_seconds is None:
        w = (
            Window.partitionBy(key_col)
            .orderBy(F.col(ts_col), F.col(tiebreak_col))
            .rowsBetween(-n_preceding, 0)
        )
        # NaN/±Inf readings are missing (hillview_spark.numeric): they
        # must not poison — or, on the DECIMAL cast, job-kill — a sum
        dec_v = numeric.finite_value(events, value_col).cast("decimal(18,6)")
        return events.select(
            F.col(key_col),
            F.col(tiebreak_col),
            F.sum(dec_v).over(w).cast("double").alias("rolling_sum"),
            (F.sum(dec_v).over(w).cast("double") / F.count(F.lit(1)).over(w))
            .alias("rolling_avg"),
            F.count(F.lit(1)).over(w).alias("rolling_n"),
        )

    width_us = chunk_seconds * 1_000_000
    t_us = _epoch_us(ts_col)
    base = events.select(key_col, ts_col, tiebreak_col, value_col).withColumn(
        "__chunk", F.floor(t_us / width_us).cast("long")
    )
    # per-key occupied-chunk successor map: one row per (key, chunk),
    # tiny relative to the fact table, reuses the (key, chunk)
    # partitioning the ghost window needs anyway
    occ = base.groupBy(key_col, "__chunk").agg(
        F.count(F.lit(1)).alias("__chunk_n")
    )
    wn = Window.partitionBy(key_col).orderBy("__chunk")
    succ = occ.withColumn(
        "__next_chunk", F.lead("__chunk").over(wn)
    ).withColumn("__prev_chunk", F.lag("__chunk").over(wn))
    if strict:
        # envelope check: an occupied chunk WITH a successor but fewer
        # than n_preceding rows means the successor's leading frames
        # would silently shorten — refuse instead. A key's FIRST
        # occupied chunk is exempt: with no earlier history, exporting
        # all k < n_preceding of its rows as ghosts IS the complete
        # reachable history, so the successor's frames are exact
        # (every real stream starts mid-chunk — flagging it would
        # reject provably-exact workloads).
        bad = (
            succ.where(
                F.col("__next_chunk").isNotNull()
                & F.col("__prev_chunk").isNotNull()
                & (F.col("__chunk_n") < n_preceding)
            )
            .orderBy("__chunk_n")
            .limit(1)
            .collect()
        )
        if bad:
            r = bad[0]
            raise ValueError(
                "moving_aggregate chunk envelope violated: key "
                f"{r[key_col]!r} chunk {r['__chunk']} holds "
                f"{r['__chunk_n']} < n_preceding={n_preceding} rows; "
                "increase chunk_seconds or pass strict=False to accept "
                "shortened frames on the affected rows"
            )
    # last n_preceding rows of each (key, chunk) — the only rows a
    # later chunk's frames can reach — re-tagged into the key's next
    # OCCUPIED chunk as ghosts (join on the successor map, so empty
    # chunks in between are skipped, not ghost graveyards)
    wd = Window.partitionBy(key_col, "__chunk").orderBy(
        F.desc(ts_col), F.desc(tiebreak_col)
    )
    ghosts = (
        base.withColumn("__rdesc", F.row_number().over(wd))
        .where(F.col("__rdesc") <= n_preceding)
        .drop("__rdesc")
        .join(
            succ.where(F.col("__next_chunk").isNotNull())
            .select(key_col, "__chunk", "__next_chunk"),
            [key_col, "__chunk"],
        )
        .withColumn("__chunk", F.col("__next_chunk"))
        .drop("__next_chunk")
        .withColumn("__ghost", F.lit(1))
    )
    u = base.withColumn("__ghost", F.lit(0)).unionByName(ghosts)
    w = (
        Window.partitionBy(key_col, "__chunk")
        .orderBy(F.col(ts_col), F.col(tiebreak_col))
        .rowsBetween(-n_preceding, 0)
    )
    dec_v = numeric.finite_value(u, value_col).cast("decimal(18,6)")
    return (
        u.select(
            F.col(key_col),
            F.col(tiebreak_col),
            F.sum(dec_v).over(w).cast("double").alias("rolling_sum"),
            (F.sum(dec_v).over(w).cast("double") / F.count(F.lit(1)).over(w))
            .alias("rolling_avg"),
            F.count(F.lit(1)).over(w).alias("rolling_n"),
            F.col("__ghost"),
        )
        .where(F.col("__ghost") == 0)
        .drop("__ghost")
    )
