"""Crafted-edge-data oracle parity: run the GATE's own DuckDB oracle
SQL against adversarial documents (empty text, whitespace-only, NULL
text, sub-shingle-length docs, exact + near duplicates) and assert the
Spark operators agree row-for-row.

The driver gate only ever sees the generated fixtures, which contain
none of these shapes — this test keeps the cross-engine contract honest
on the inputs most likely to diverge (tokenizer-on-empty, regex-on-NULL,
shingle windows shorter than n). The round-6/7 ADVICE bugs (NULL
event_type groups, NULL window filters) were exactly this class.
"""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod
from pyspark.sql import functions as F
from hillview_spark.functions import curation, dedup, text

EDGE_DOCS = [
    (1, "alpha beta gamma delta epsilon", "web", "en"),
    (2, "alpha beta gamma delta epsilon", "web", "en"),   # exact dup
    (3, "", "web", "en"),                                 # empty
    (4, "   ", "web", "en"),                              # whitespace
    (5, "one two", "web", "en"),                          # < shingle n
    (6, "alpha beta gamma delta zeta", "web", "en"),      # near dup
    (7, None, "web", "en"),                               # NULL text
    (8, "hello world hello", None, None),                 # NULL meta
    (9, "spark hash vector spark", "src0", "en"),         # search hits
    # r9 tokenizer fix: trim strips only SPACES, so a leading tab /
    # trailing newline used to mint '' tokens that corrupted shingle
    # sets — doc 10 must now be shingle-identical to docs 1/2
    # (Jaccard 1.0) while staying a distinct EXACT-dedup fingerprint
    (10, "\talpha beta gamma delta epsilon\n", "web", "en"),
    (20, "alpha beta gamma delta epsilon", "src1", "en"), # eval-doc id
]
# NULL-KEY match rows live in a SEPARATE fixture
# (test_find_first_row_null_key_matches): the identity-keyed cases
# (shuffle/mixture/split) fail LOUDLY on a NULL doc_id by declared
# contract (salted_hex), so they cannot share a NULL-id row.


@pytest.fixture(scope="module")
def edge_df(spark):
    return spark.createDataFrame(
        EDGE_DOCS, "doc_id long, text string, source string, lang string"
    )


@pytest.fixture(scope="module")
def edge_con():
    con = duckdb.connect()
    con.register(
        "documents",
        # nullable Int64: a plain int column with the NULL-key row
        # would silently become float64 (doc_id 1 -> 1.0 cross-engine)
        pd.DataFrame(
            EDGE_DOCS, columns=["doc_id", "text", "source", "lang"]
        ).astype({"doc_id": "Int64"}),
    )
    return con


# gate key -> the same operator call the gate's queries() entry makes
CASES = {
    "text_token_count": lambda df: text.token_count(df),
    "text_fingerprint": lambda df: text.fingerprint(df),
    "text_quality_score": lambda df: text.quality_score(df),
    "text_lang_id": lambda df: text.lang_id(df),
    "dedup_exact": lambda df: dedup.exact_dedup(df),
    "dedup_ngram_jaccard": lambda df: dedup.ngram_jaccard_pairs(
        df, threshold=0.3
    ),
    # r15: the asymmetric sibling on the same degenerate docs —
    # empty/NULL/sub-shingle docs have no set and never pair, and
    # the whitespace-normalized doc 10 is containment-1.0 with 1/2
    "dedup_ngram_containment": lambda df: dedup.ngram_containment_pairs(
        df, threshold=0.8
    ),
    "dedup_minhash_lsh": lambda df: dedup.minhash_lsh_pairs(
        df, num_hashes=16, bands=4
    ),
    "text_pii_scrub": lambda df: curation.pii_scrub(df),
    # r11: duplicate-n-gram fraction on degenerate docs — NULL/empty/
    # sub-shingle docs must anchor with 0/0/0.0 in both engines, and
    # the exact-dup trio (1/2/10) must score dup_frac 1.0
    "ngram_novelty": lambda df: curation.ngram_novelty(df),
    # r11: PMI collocations — the edge corpus's repeated bigrams all
    # fall UNDER the gate's min_count=5, so both engines must agree
    # the filter drops them (empty result, not a half-filtered one);
    # value parity at min_count=2 is pinned in test_functions.py
    "text_collocations": lambda df: text.collocations(df, min_count=5),
    # r11: snapshot diff through the gate's own derivation — NULL
    # texts must fingerprint null-safe (both-NULL = unchanged,
    # one-side rewrite of a NULL text = changed via concat_ws)
    "corpus_diff": lambda df: curation.corpus_diff(
        df.where(F.col("doc_id") % 3 != 0),
        df.where(F.col("doc_id") % 5 != 0).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat_ws(" ", F.col("text"), F.lit("v2")),
            ).otherwise(F.col("text")),
        ),
    ),
    # r8: the full FindSketch Result on NULL/empty docs (a NULL text
    # never matches; counts must partition identically cross-engine)
    "find_first_row": lambda df: __import__(
        "hillview_spark.operators.spreadsheet", fromlist=["x"]
    ).find_first(df, "text", "spark merge", ["doc_id"], start=(100,)),
    # r8: NULL/empty/whitespace docs must chunk to one ('', 0) chunk in
    # BOTH engines (the r7 probe found the oracle emitting (NULL, 40)
    # and a phantom ('', 1) token)
    "chunk_documents": lambda df: curation.chunk_documents(
        df, chunk_tokens=40, overlap=8
    ),
    "pack_sequences": lambda df: curation.pack_sequences(
        curation.chunk_documents(df, 40, 8), budget_tokens=120, n_groups=16
    ).select("doc_id", "chunk_id", "pack_group", "seq_id"),
    # round-7 additions: search/LM/repetition/curation surfaces on the
    # same adversarial docs (the repetition oracle's missing input-id
    # anchor — un-scored empty/NULL docs — was caught exactly here)
    "bm25_search": lambda df: __import__(
        "hillview_spark.functions.search", fromlist=["x"]
    ).bm25_search(df, ["spark", "hash", "vector"]),
    "tfidf_top_terms": lambda df: __import__(
        "hillview_spark.functions.search", fromlist=["x"]
    ).top_terms_per_doc(df, k=3, min_df=2, max_df_frac=0.95),
    "text_lm_nll": lambda df: text.bigram_lm_nll(df, alpha=0.1),
    "dedup_simhash": lambda df: dedup.simhash_pairs(df, max_hamming=3),
    # r13: exact-substring spans — the dup quad (1/2/10/20) shares
    # one 5-gram (one whole-doc span each), NULL/empty/whitespace/
    # short docs must have NO rows, and the tab/newline doc 10 must
    # tokenize identically; the remove twin must keep every input
    # doc, rebuilding the un-spanned ones verbatim
    "dedup_substring": lambda df: dedup.repeated_spans(
        df, n=5, min_sites=2
    ),
    "dedup_substring_remove": lambda df: dedup.remove_repeated_spans(
        df, n=5, min_sites=2
    ),
    # r14: keep-one policy — doc 1 is the first (doc_id, pos) site of
    # the dup quad's shared 5-gram, so it must survive the cut intact
    # in BOTH engines while 2/10/20 are cut; NULL/empty/short docs
    # still anchor with '' / all-kept rows
    "dedup_substring_keep_one": lambda df: dedup.remove_repeated_spans(
        df, n=5, min_sites=2, keep="first"
    ),
    # r13: span-level decontamination through the gate's own %20
    # derivation — eval doc 20 carries the dup quad's text, so the
    # train twins (1/2/10, tab/newline included) must each report
    # one whole-doc span; NULL/empty/short train docs stay silent
    "decontaminate_spans": lambda df: dedup.contamination_spans(
        df.where(F.col("doc_id") % 20 != 0),
        df.where(F.col("doc_id") % 20 == 0),
        n=5,
    ),
    # r14: the EDIT half — train twins 1/2/10 lose the whole-doc span
    # shared with eval doc 20 (rebuild ''), clean/NULL/empty/short
    # train docs keep every token; one row per train doc either way
    "decontaminate_spans_remove": lambda df: dedup.remove_contaminated_spans(
        df.where(F.col("doc_id") % 20 != 0),
        df.where(F.col("doc_id") % 20 == 0),
        n=5,
    ),
    "text_repetition_stats": lambda df: curation.repetition_stats(df),
    "corpus_shuffle": lambda df: curation.shuffle_corpus(df).select(
        "doc_id", "shuffle_rank"
    ),
    "sample_mixture": lambda df: curation.sample_to_mixture(
        df, {"src0": 0.5, "src1": 0.25}
    ).select("doc_id", "source"),
    # r12: n^alpha balancing — the NULL-source row must form ONE
    # group (not drop) and its POWER/share arithmetic must agree
    "mixture_temperature": lambda df: (
        curation.mixture_temperature_weights(df, alpha=0.5, ndigits=6)
    ),
    # r12: exact-quota stratified split — the NULL-source row forms
    # its own stratum with quota ceil(1 x 0.1) = 1, so it must land
    # in eval identically in both engines
    "split_stratified": lambda df: __import__(
        "hillview_spark.operators.sampling", fromlist=["x"]
    ).stratified_split(df, 0.1, "doc_id", "source").select(
        "doc_id", "source", "split"
    ),
    "split_train_eval": lambda df: __import__(
        "hillview_spark.operators.sampling", fromlist=["x"]
    ).split_train_eval(df, 0.1, "doc_id").select("doc_id", "split"),
    "dedup_corpus_pipeline": lambda df: dedup.dedup_corpus(
        df, threshold=0.3
    ).select("doc_id"),
    # r8: progressive final stage on NULL-meta docs — shares the full
    # heavy_hitters oracle; partial stages must not leak into the
    # released final values
    "progressive_heavy_hitters": lambda df: list(
        __import__(
            "hillview_spark.operators.heavy_hitters", fromlist=["x"]
        ).progressive_heavy_hitters(
            df, ["lang"], epsilon=0.13, stages=(0.1, 1.0)
        )
    )[-1],
}


def test_find_first_row_null_key_matches(spark):
    """ADVICE-r8 fix: a match with a NULL sort key is a CANDIDATE at
    any anchor (missing-sorts-last, IDoubleColumn.java:70-78), never
    'before' — the old oracle's doc_id >= 100 dropped it from both
    sides. Both engines must agree on before/at/after with NULL-key
    matches present, including the all-NULL-candidates case where the
    NULL-key rows ARE the first match."""
    from hillview_spark.operators import spreadsheet

    rows = EDGE_DOCS + [
        (None, "the spark merge doc with no id", "web", "en"),
        (None, "another spark merge with no id", "web", "en"),
        (150, "late spark merge match", "web", "en"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string"
    )
    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            rows, columns=["doc_id", "text", "source", "lang"]
        ).astype({"doc_id": "Int64"}),
    )
    got = spreadsheet.find_first(
        df, "text", "spark merge", ["doc_id"], start=(100,)
    ).collect()[0]
    want = con.sql(entry_mod.oracle_sql()["find_first_row"]).fetchall()[0]
    cols = con.sql(entry_mod.oracle_sql()["find_first_row"]).columns
    w = dict(zip(cols, want))
    assert (got.before, got.at, got.after, got.first_doc_id) == (
        w["before"], w["at"], w["after"], w["first_doc_id"]
    )
    # first match at-or-after 100 is doc 150; the two NULL-key rows
    # sort after it
    assert got.first_doc_id == 150 and got.after == 2
    # anchor past every real key: the NULL-key rows are the first
    # match — 'at' counts them, first_doc_id is NULL
    got2 = spreadsheet.find_first(
        df, "text", "spark merge", ["doc_id"], start=(10_000,)
    ).collect()[0]
    assert got2.first_doc_id is None and got2.at == 2 and got2.after == 0


@pytest.mark.parametrize("key", sorted(CASES))
def test_oracle_matches_on_edge_docs(spark, edge_df, edge_con, key):
    sdf = CASES[key](edge_df)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on edge docs"

# ---------------------------------------------------------------- events
# The events surface is the historical NULL-bug hotspot (ADVICE r5-r7):
# Spark's window()/watermark machinery silently drops NULL event times
# while SQL GROUP BY keeps NULL groups, and the engines sort NULLs to
# opposite ends of a window frame. These fixtures put NULL ts /
# event_type / user_id / value rows (plus tie-broken duplicate
# timestamps and a session-gap boundary) through the gate's own oracle
# SQL so the batch operators' declared NULL semantics stay pinned.

_TS = lambda m: __import__("datetime").datetime(2024, 1, 1, 10, m)

EDGE_EVENTS = [
    # (event_id, user_id, event_type, ts, value)
    (1, 1, "click", _TS(0), 1.5),
    (2, 1, "view", _TS(10), 2.25),
    (3, 1, "purchase", _TS(50), 4.0),      # 40min gap -> new session
    (4, 1, "view", None, 9.0),             # NULL ts
    (5, 2, "click", _TS(0), 0.5),
    (6, 2, None, _TS(5), 1.0),             # NULL event_type
    (7, 2, "purchase", _TS(20), 3.5),      # click+20min -> attributed
    (8, None, "click", _TS(15), 2.0),      # NULL user_id
    (9, 2, "view", _TS(5), None),          # NULL value, ts tie w/ 6
    (10, 2, "view", _TS(5), 0.125),        # second tie on (user, ts)
    # non-finite values (engine-wide numeric rule: missing) — a NaN
    # would otherwise crash the oracles' DECIMAL casts outright and
    # ±Inf would poison the rolling/window sums
    (11, 3, "view", _TS(2), float("nan")),
    (12, 3, "view", _TS(4), float("inf")),
    (13, 3, "view", _TS(6), float("-inf")),
    (14, 3, "view", _TS(8), 2.5),
    # error events for the as-of join: one NULL-ts error (satisfies no
    # as-of predicate) and a NULL-ts click already exists via user 1's
    # event 4 pattern — event 18 gives user 2 a preceding error
    (15, 1, "error", _TS(1), 2.0),
    (17, 2, "error", None, 3.0),
    (18, 2, "error", _TS(1), 4.0),
    # NaN error value + a user-3 click that as-of matches it: the
    # matched err_value must come back as missing (sentinel -1.0), not
    # NaN, and must not crash the oracle's DECIMAL cast (r7 probe bug)
    (19, 3, "error", _TS(1), float("nan")),
    (20, 3, "click", _TS(3), 1.0),
]


@pytest.fixture(scope="module")
def edge_events_df(spark):
    return spark.createDataFrame(
        EDGE_EVENTS,
        "event_id long, user_id long, event_type string, "
        "ts timestamp_ntz, value double",
    )


@pytest.fixture(scope="module")
def edge_events_con():
    con = duckdb.connect()
    # TIMESTAMP_NS mirrors the gate fixture's parquet TIMESTAMP(NANOS)
    con.execute(
        "CREATE TABLE events(event_id BIGINT, user_id BIGINT,"
        " event_type VARCHAR, ts TIMESTAMP_NS, value DOUBLE)"
    )
    con.executemany(
        "INSERT INTO events VALUES (?, ?, ?, ?, ?)", EDGE_EVENTS
    )
    return con


def _events_cases():
    from hillview_spark.operators import temporal
    from hillview_spark.streaming import events as ev

    return {
        "events_windowed_counts": lambda df: ev.windowed_counts(df),
        # r11: NULL user_id must not count as a distinct entity, and
        # the NULL-ts group must survive with n_distinct computed the
        # same way in both engines
        "events_windowed_distinct": lambda df: ev.windowed_distinct(df),
        # r11: per-window percentiles on NaN/±Inf/NULL values — the
        # finite mask must leave interpolation inputs identical in
        # both engines; all-masked cells yield NULL percentiles
        "events_windowed_quantiles": lambda df: ev.windowed_quantiles(df),
        # r11: retention triangle — NULL-user and NULL-ts rows must
        # be excluded identically (identity/position rule), not form
        # a phantom NULL cohort
        "events_cohort_retention": lambda df: ev.cohort_retention(df),
        # r11: trailing-baseline anomaly — the edge fixture's single
        # window per type means EVERY cell lacks history: both
        # engines must agree on the all-NULL baseline/z columns (and
        # the NULL-ts row must be excluded, not form a NULL window);
        # z-value math is pinned in test_functions.py
        "events_windowed_anomaly": lambda df: ev.windowed_anomaly(df),
        # r11: transition matrix — NULL user/ts/type rows must drop
        # identically, and the same-instant tie (events 6/9/10 share
        # user 2, ts 10:05) must order by event_id in both engines
        "events_transitions": lambda df: ev.transition_counts(df),
        # r11: the adjacency family's siblings on the same edges —
        # depth-3 chains, PRF-noised cells, and exact-micros gap
        # percentiles must all agree through the tie and NULL rows
        "events_paths": lambda df: ev.path_counts(df, depth=3),
        "dp_transitions": lambda df: ev.dp_transition_counts(
            df, epsilon=1.0, seed=7
        ),
        "events_gap_quantiles": lambda df: ev.inter_event_gaps(df),
        # r11: per-window top-k — the edge fixture has tied counts, a
        # NULL-type cell, and a NULL-ts window; the (n DESC, IS NULL,
        # value) total order must rank identically in both engines
        "events_windowed_topk": lambda df: ev.windowed_topk(df, k=3),
        # r12: the keep-ties sibling on the SAME tied cells — rank()
        # must assign the tied group identically in both engines
        "events_windowed_topk_keep": lambda df: ev.windowed_topk(
            df, k=3, ties="keep"
        ),
        # r12: continual bounded sum — NaN/±Inf/NULL values skip the
        # clipped cell sums identically (the presence gate wraps the
        # clamp: Spark's greatest() skips NULLs), NULL-ts rows drop
        "dp_windowed_sum": lambda df: ev.dp_windowed_sum(
            df, unit="hour", col="value", lo=0.0, hi=250.0,
            epsilon=1.0, seed=7,
        ),
        # r13: the bounded-mean composition — non-finite values skip
        # the cell sum but COUNT as rows, in both engines
        "dp_windowed_mean": lambda df: ev.dp_windowed_mean(
            df, unit="hour", col="value", lo=0.0, hi=250.0,
            epsilon=1.0, seed=7,
        ),
        # r13: private DAU — NULL entities skipped by countDistinct,
        # NULL-ts rows drop, cell noise identical on the remainder
        "dp_windowed_distinct": lambda df: ev.dp_windowed_distinct(
            df, unit="hour", col="user_id", epsilon=1.0, seed=7,
        ),
        # r14: continual unknown-domain trending — NULL values are
        # not a domain element, NULL-ts rows drop; the edge
        # fixture's tiny per-(day, type) counts sit below tau, so
        # both engines must agree on the (near-)empty release
        "dp_windowed_trending": lambda df: ev.dp_windowed_trending(
            df, unit="day", col="event_type", epsilon=1.0,
            delta=0.05, seed=7,
        ),
        # r15: user-level composed release — the deterministic cap
        # must pick the SAME event per (user, hour) in both engines
        # through the (user 2, hour 0) multi-event cell, pool the
        # NULL-user row as its own capped group, and drop NULL-ts
        # rows before any bound applies
        "dp_windowed_counts_user_level": (
            lambda df: ev.dp_windowed_counts_user_level(
                df, unit="hour", epsilon=1.0, seed=7, k=1,
                by="user_id", max_windows=56, key_col="event_id",
                salt="bound1",
            )
        ),
        # r15 late block: the composed trending release — cap, NULL
        # pooling, NULL-value exclusion, and the threshold decision
        # must agree through the edge fixture's tiny capped cells
        "dp_windowed_trending_user_level": (
            lambda df: ev.dp_windowed_trending_user_level(
                df, unit="day", col="event_type", epsilon=2.0,
                delta=0.05, seed=7, k=1, by="user_id",
                max_windows=20, key_col="event_id", salt="bound1",
            )
        ),
        # r13: the unknown-domain stability histogram — NULL user ids
        # are not a domain element; the edge fixture's tiny per-user
        # counts sit far below tau, so BOTH engines must agree the
        # release is empty (not a half-filtered one)
        "dp_active_users": lambda df: __import__(
            "hillview_spark.operators.privacy", fromlist=["x"]
        ).dp_histogram_unknown_domain(
            df, "user_id", epsilon=1.0, delta=1e-14, seed=7
        ),
        # r12: bounded mean — NaN/±Inf/NULL values contribute ZERO to
        # the clipped sum but still COUNT as rows, in both engines
        "dp_mean_value": lambda df: __import__(
            "hillview_spark.operators.privacy", fromlist=["x"]
        ).dp_mean(
            df, "value", lo=0.0, hi=250.0, epsilon=1.0, seed=7,
        ),
        # r11: session summary + normalized retention on the NULL-ts
        # / NULL-user edges (both exclude them; percentile and rate
        # arithmetic must agree on the tiny remainder)
        "events_session_stats": lambda df: ev.session_stats(df),
        "events_retention_rate": lambda df: ev.retention_rate(df),
        "events_conversion_time": lambda df: ev.conversion_time(df),
        "events_rolling_actives": lambda df: ev.rolling_active_users(
            df, window_days=7
        ),
        # r11: ordered funnel on NULL users/times and strict-after
        # tie semantics (same-instant click+view must NOT advance)
        "events_funnel": lambda df: ev.funnel_counts(df),
        "events_sessionize": lambda df: ev.sessionize(df, gap_minutes=30),
        "events_sliding_counts": lambda df: ev.sliding_window_counts(
            df, window_minutes=60, slide_minutes=15
        ),
        "events_click_purchase": lambda df: ev.click_purchase_pairs(
            df, gap_minutes=30
        ),
        "events_moving_avg": lambda df: temporal.moving_aggregate(
            df, n_preceding=3
        ),
        "category_centroids": lambda df: __import__(
            "hillview_spark.operators.correlation", fromlist=["x"]
        ).category_centroids(df, "event_type", ["value"]),
        "asof_join_events": _edge_asof,
        # r8 (VERDICT r7 #6): the Grok/dissect surface on degenerate
        # lines — NULL user_id/event_type make the formatted line NULL
        # or structurally off-pattern; parse_error accounting and the
        # typed NULL fields must agree with the oracle's SQL mirror
        "logs_parse_syslog": _edge_logs,
        "range_join_sessions": lambda df: temporal.range_join(
            df.select("event_id", "user_id", "ts"),
            ev.sessionize(df, gap_minutes=30),
            "ts", "session_start", "session_end", ["user_id"],
            bucket_seconds=1800,
        ).select("event_id", "user_id", "session_id"),
    }


def _edge_logs(df):
    """The gate's syslog construction verbatim (concat of user_id /
    event_type / event_id) — NULL components NULL the whole line."""
    from pyspark.sql import functions as F

    from hillview_spark.sources import readers

    lines = df.select(
        F.concat(
            F.lit("Jan  2 03:04:05 host"),
            F.col("user_id").cast("string"),
            F.lit(" "),
            F.col("event_type"),
            F.lit("["),
            F.col("event_id").cast("string"),
            F.lit("]: seen user "),
            F.col("user_id").cast("string"),
        ).alias("line")
    )
    return readers.dissect_lines(lines, "line", "syslog").select(
        "raw_line", "parse_error", "host", "proc", "pid", "message"
    )


def _edge_asof(df):
    """The gate's asof wrapper: clicks as-of errors, sentinel fills.
    A NULL left (click) time satisfies no as-of predicate — kept with
    sentinels; the oracle's DuckDB ASOF would otherwise sort it LAST
    and hand it the user's latest error."""
    from pyspark.sql import functions as F

    from hillview_spark.operators import temporal

    us = ("timestampdiff(MICROSECOND,"
          " TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})")
    clicks = df.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # mirror the gate's errors construction exactly: finite-guarded
    # DECIMAL max per (user, ts) — a NaN error value is missing
    fin = (F.col("value") > F.lit(float("-inf"))) & (
        F.col("value") < F.lit(float("inf"))
    )
    errors = (
        df.where(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max(F.when(fin, F.col("value")).cast("decimal(18,6)"))
             .cast("double").alias("err_value"))
    )
    out = temporal.asof_join(clicks, errors, "ts", ["user_id"], ["err_value"])
    return out.select(
        "event_id",
        "user_id",
        F.expr(us.format(c="ts")).alias("ts_us"),
        F.coalesce(F.expr(us.format(c="ts_r")), F.lit(-1)).alias("err_ts_us"),
        F.coalesce("err_value_r", F.lit(-1.0)).alias("err_value_r"),
    )


@pytest.mark.parametrize("key", sorted(_events_cases()))
def test_oracle_matches_on_edge_events(
    spark, edge_events_df, edge_events_con, key
):
    sdf = _events_cases()[key](edge_events_df)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_events_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on edge events"

# ------------------------------------------------- streaming twins (r8)
# VERDICT r7 #6: the batch twins are pinned on the NULL-ts/NULL-type
# edge events above; the STREAM twins were not — a NULL event time
# takes a different path through the watermark/window machinery than
# through a batch GROUP BY, and the two must still agree with the one
# shared oracle. Reuses the gate's own _run_stream driver
# (availableNow drain into a memory sink) on an edge-events parquet.


@pytest.fixture(scope="module")
def edge_events_dir(spark, edge_events_df, tmp_path_factory):
    # the gate fixture's events.parquet is a single FILE (the file-
    # stream source does not recurse into a nested directory), so
    # extract the one part file from a staging write
    import glob
    import shutil

    d = str(tmp_path_factory.mktemp("edge-stream"))
    staging = d + "/staging"
    edge_events_df.coalesce(1).write.parquet(staging)
    (part,) = glob.glob(staging + "/part-*.parquet")
    shutil.copy(part, d + "/events.parquet")
    shutil.rmtree(staging)
    return d


def _stream_cases():
    from hillview_spark.streaming import events as ev

    return {
        "events_windowed_counts_stream": (
            ev.stream_windowed_counts, "complete", {}),
        "dp_windowed_counts_stream": (
            ev.stream_dp_windowed_counts, "complete",
            {"epsilon": 1.0, "seed": 7}),
        "events_sliding_counts_stream": (
            ev.stream_sliding_counts, "complete", {}),
        # r11: the dedup-then-count twin on NULL ts (watermark drop)
        # and NULL user (explicit drop for countDistinct parity)
        "events_windowed_distinct_stream": (
            ev.stream_windowed_distinct, "complete", {}),
        "events_click_purchase_stream": (
            ev.stream_click_purchase_join, "append", {}),
        "dp_windowed_histogram_stream": (
            ev.stream_dp_windowed_histogram, "complete",
            {"col": "value", "lo": 0.0, "hi": 500.0, "buckets": 10,
             "epsilon": 1.0, "seed": 7}),
        # r13: the continual bounded-mean twin — NaN/Inf/NULL values
        # must skip the cell sums but COUNT as rows, identically
        "dp_windowed_mean_stream": (
            ev.stream_dp_windowed_mean, "complete",
            {"col": "value", "lo": 0.0, "hi": 250.0,
             "epsilon": 1.0, "seed": 7}),
        # r13: private-DAU twin — dropDuplicates composition + cell
        # noise must match the oracle on NULL users/times
        "dp_windowed_distinct_stream": (
            ev.stream_dp_windowed_distinct, "complete",
            {"col": "user_id", "epsilon": 1.0, "seed": 7}),
        # r14: the trending twin — threshold decision on the rounded
        # release must match the oracle on NULL types/times
        "dp_windowed_trending_stream": (
            ev.stream_dp_windowed_trending, "complete",
            {"window_duration": "1 day", "watermark": "2 days",
             "col": "event_type", "epsilon": 1.0, "delta": 0.05,
             "seed": 7}),
    }


@pytest.mark.parametrize("key", sorted(_stream_cases()))
def test_stream_twins_match_oracle_on_edge_events(
    spark, edge_events_dir, edge_events_con, key
):
    builder, mode, kw = _stream_cases()[key]
    sdf = entry_mod._run_stream(
        spark, edge_events_dir, builder, f"edge_{key}", mode=mode, **kw
    )
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_events_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} stream twin diverged on edge events"


# ------------------------------------------------------------ embeddings
# Malformed-vector quarantine (round 7): a zero-norm, NULL, or
# dim-mismatched embedding must drop out of every similarity release the
# same way in both engines. Historically divergent three ways: Spark's
# zip_with NULL-pads unequal widths (NULL dot) while a hardcoded
# generate_series(1, 64) made DuckDB's list_sum skip the NULLs and emit a
# bogus partial dot; the LSH bucket expression raise_error'd (one bad row
# killing a 100-TB job); and NULL cosines could occupy top-k slots. Now:
# NULL bucket/cell -> excluded from candidates, NULL cosine -> never
# ranked, PQ filters to its declared dims. The 16-dim pair (12, 16) pins
# the complement: vectors of EQUAL (if nonstandard) width remain
# comparable to each other in the exact pairwise paths.

_EDGE_VECS = None


def _edge_vec_rows():
    global _EDGE_VECS
    if _EDGE_VECS is None:
        import numpy as np

        rng = np.random.default_rng(1)
        rows = []
        for i in range(8):
            rows.append(
                (i, [float(round(x, 4)) for x in rng.normal(size=64)], i % 3)
            )
        rows.append((8, [0.0] * 64, 0))       # zero-norm
        rows.append((9, None, 1))             # NULL embedding
        rows.append((10, [1.0] * 16, 2))      # dim mismatch
        rows.append((12, [1.0] * 16, 0))      # same-width pair w/ 16
        rows.append((16, [2.0] * 16, 1))      # parallel to 12 (cos 1.0)
        # r9: non-finite / NULL COMPONENTS in full-width vectors — a
        # vector with any NaN/±Inf/NULL element is malformed and must
        # be quarantined (NULL dot/bucket/cell) identically in both
        # engines; historically Spark NULL'd the decimal dot while
        # DuckDB's CAST(nan AS DECIMAL) was job-fatal
        nanv = [1.0] * 64
        nanv[7] = float("nan")
        infv = [0.5] * 64
        infv[0] = float("inf")
        nullv = [1.0] * 64
        nullv[63] = None
        rows.append((17, nanv, 2))
        rows.append((18, infv, 0))
        rows.append((19, nullv, 1))
        # r9b: FINITE but out-of-domain component (decimal(13,8)
        # holds |x| < 1e5) — under ANSI a plain cast made the whole
        # Spark job fatal (NUMERIC_VALUE_OUT_OF_RANGE) and the
        # narrower DuckDB cast crashed the oracle; both engines must
        # quarantine instead (try_cast -> NULL fold)
        bigv = [0.25] * 64
        bigv[31] = 1.0e6
        rows.append((21, bigv, 0))
        # r9 review fix: SUB-QUANTUM vector — nonzero doubles that all
        # round to 0E-8 in decimal(13,8). Zero decimal norms make its
        # cosine NULL; the oracle's division-by-zero -> NULL -> filter
        # drops it, so the Spark guard must judge `nonzero` in DECIMAL
        # (the old double-!=0 test let a NULL-cosine row into top-k)
        rows.append((22, [1e-9] * 64, 1))
        _EDGE_VECS = rows
    return _EDGE_VECS


@pytest.fixture(scope="module")
def edge_vec_df(spark):
    return spark.createDataFrame(
        _edge_vec_rows(), "vec_id long, embedding array<float>, label int"
    )


@pytest.fixture(scope="module")
def edge_vec_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings(vec_id BIGINT, embedding FLOAT[],"
        " label INT)"
    )
    con.executemany(
        "INSERT INTO embeddings VALUES (?, ?, ?)", _edge_vec_rows()
    )
    return con


def _vec_cases():
    from pyspark.sql import functions as F

    from hillview_spark.functions import similarity as sim

    return {
        "ann_cosine_topk": lambda df: sim.cosine_topk(df, query_id=0, k=10),
        "ann_lsh_topk": lambda df: sim.ann_lsh(
            df, query_id=0, k=10, planes=4
        ),
        "ann_knn_join": lambda df: sim.knn_join(
            df.where(F.col("vec_id") % 4 == 0), k=3
        ),
        "ann_knn_join_lsh": lambda df: sim.knn_join(df, k=3, planes=8),
        "dedup_embedding_cosine": lambda df: sim.cosine_dup_pairs(
            df.where(F.col("vec_id") % 4 == 0), threshold=0.4
        ),
        "dedup_embedding_cosine_lsh": lambda df: sim.cosine_dup_pairs(
            df, threshold=0.4, planes=4
        ),
        "semantic_dedup": lambda df: sim.semantic_dedup(
            df, threshold=0.4, n_cells=8, stride=50
        ),
        "embedding_group_centroids": lambda df: sim.group_centroids(
            df, "label"
        ),
        "ann_ivf_topk": lambda df: sim.ivf_topk_exact(
            df, query_id=0, k=10, n_cells=8, n_probe=3, stride=50
        ),
        "pq_encode": lambda df: sim.pq_encode_exact(
            df.where("vec_id <> 0"), m=4, k=8, stride=50
        ),
        "pq_topk": lambda df: sim.pq_topk_exact(
            df, query_id=0, n_results=10, m=4, k=8, stride=50
        ),
    }


@pytest.mark.parametrize("key", sorted(_vec_cases()))
def test_oracle_matches_on_edge_vectors(spark, edge_vec_df, edge_vec_con, key):
    sdf = _vec_cases()[key](edge_vec_df)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_vec_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on edge vectors"
    if key == "dedup_embedding_cosine":
        # the equal-width 16-dim pair must have been judged, not dropped
        assert any("12, 16" in g or "(1.0, 12, 16)" in g for g in got), got


def test_element_domain_sliver_excluded_on_both_engines(spark):
    """The ONE value band where the engines' decimal casts disagree
    (r9 review find): for a double in (99999.999999995, 1e5), Spark's
    try_cast half-up-rounds into overflow -> NULL, while DuckDB's
    DECIMAL(13,8) cast ACCEPTS the rounded 100000.00000000. The
    element-domain bound is therefore the decimal max
    (|x| <= 99999.99999999, inclusive), which both engines evaluate
    as the same double comparison — a sliver component quarantines
    the row identically everywhere. This test pins both the raw cast
    divergence (so an engine upgrade that fixes it surfaces here) and
    the guard's exclusion parity."""
    import duckdb as _dd

    from pyspark.sql import functions as F

    from hillview_spark.functions import similarity as sim

    sliver = 99999.999999996
    # the raw casts DO disagree — that is why the bound exists
    spark_cast = (
        spark.range(1)
        .select(F.lit(sliver).try_cast("decimal(13,8)").alias("d"))
        .first()
        .d
    )
    duck_cast = _dd.sql(
        f"SELECT TRY_CAST(CAST({sliver!r} AS DOUBLE) AS DECIMAL(13,8))"
    ).fetchone()[0]
    assert spark_cast is None and duck_cast is not None
    # ...but the guard excludes the row on BOTH sides
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, sliver]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    kept = {
        r.vec_id
        for r in df.where(sim.all_finite("embedding")).collect()
    }
    assert kept == {0, 2}
    con = _dd.connect()
    con.register(
        "embeddings",
        __import__("pandas").DataFrame(
            {"vec_id": [0, 1, 2],
             "embedding": [[1.0, 2.0], [1.0, sliver], [3.0, 4.0]]}
        ),
    )
    import __spark_entry__ as em

    duck_kept = {
        r[0]
        for r in con.sql(
            "SELECT vec_id FROM embeddings WHERE "
            + em._vec_clean_sql("embedding")
        ).fetchall()
    }
    assert duck_kept == {0, 2}

def test_persisted_ivf_index_matches_oracle_on_edge_vectors(
    spark, edge_vec_df, edge_vec_con, tmp_path
):
    """r8: the persisted-index path on the same crafted zero/NULL/
    ragged vectors the live-twin suite pins — unassignable vectors
    must be excluded at WRITE time and the pruned search must still
    hash-match the shared oracle."""
    from hillview_spark.functions import similarity as sim

    path = str(tmp_path / "ivf_edge")
    sim.ivf_write_index_exact(edge_vec_df, path, n_cells=8, stride=50)
    qv = edge_vec_df.where("vec_id = 0").first().embedding
    sdf = sim.ivf_topk_indexed_exact(
        spark, path, qv, query_id=0, k=10, n_probe=3
    )
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_vec_con.sql(entry_mod.oracle_sql()["ann_ivf_topk_indexed"])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, "persisted IVF index diverged on edge vectors"


def test_persisted_lsh_index_matches_oracle_on_edge_docs(
    spark, edge_df, edge_con, tmp_path
):
    """r8: the crawl-ingest LSH index on the adversarial docs — the
    corpus index (NULL/empty/short docs included) written to disk,
    the incoming batch deduped against it, oracle re-derives the
    corpus x batch candidates."""
    from hillview_spark.functions import dedup

    path = str(tmp_path / "lsh_edge")
    dedup.lsh_write_index(
        edge_df.where("doc_id % 20 != 0"), path, 16, 4
    )
    sdf = dedup.lsh_query_index(
        spark, path, edge_df.where("doc_id % 20 = 0")
    )
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_con.sql(entry_mod.oracle_sql()["dedup_lsh_index_query"])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, "persisted LSH index diverged on edge docs"
    # the exact-dup batch doc (20) must actually have been judged
    assert got, "expected at least one corpus x batch candidate"


# ---------------------------------------------------------- numeric sketches
# Non-finite rule (round 7): NULL, NaN, and ±Inf are MISSING in every
# numeric sketch, identically in both engines. Historically: a single
# NaN/Inf poisoned the Spark-side range (every row squashed into bucket
# 0), the oracles' NULL-only guards let DuckDB crash on CAST(nan AS
# BIGINT) or count NaN as present, and DP quantization clamped ±Inf
# into an edge bucket, inflating its noisy count.

_EDGE_LI = None


def _edge_li_rows():
    global _EDGE_LI
    if _EDGE_LI is None:
        import random

        nan, inf = float("nan"), float("inf")
        rnd = random.Random(7)
        rows = [
            (
                i, i % 7 + 1, "N", "O",
                float(rnd.randint(1, 50)),
                round(1000 + 900.0 * i, 2),
                round(rnd.randint(0, 10) / 100.0, 2),
                round(rnd.randint(0, 8) / 100.0, 2),
            )
            for i in range(40)
        ]
        rows += [
            (100, 1, "R", "F", nan, 5000.0, 0.05, 0.02),
            (101, 2, "A", "F", 25.0, nan, 0.01, 0.03),
            (102, 3, "N", "O", inf, 7000.0, 0.02, 0.01),
            (103, 4, "N", "O", 30.0, -inf, 0.03, nan),
            (104, 5, "R", "F", None, None, None, None),
            # NULL sort keys: the reference sorts missing LAST ascending
            # (IDoubleColumn.java:70-78) — these rows pin next_k /
            # next_k_after / row_comparison_filter's record order
            (105, 6, None, "O", 10.0, 1500.0, 0.01, 0.0),
            (106, 7, "N", None, 10.0, 1600.0, 0.02, 0.0),
            (107, 1, None, None, None, 1700.0, 0.0, 0.0),
            # quantization boundaries for the DP session surface
            # (grid [1,51) gran 1.0 / [0,0.11) gran 0.01): values at
            # the exclusive max, below min, and mid-cell must land in
            # the same bucket (or be excluded) in both engines
            (108, 2, "N", "O", 51.0, 2000.0, 0.11, 0.01),
            (109, 3, "N", "O", 0.5, 2100.0, 0.005, 0.02),
            (110, 4, "N", "O", 50.5, 2200.0, 0.105, 0.03),
            # ('A','F',NULL) sorts INSIDE the k=20 page (the other
            # NULL sort keys land past it under NULLS LAST), so
            # dp_next_k's PRF NULL-field escaping ('\\N') is actually
            # exercised against the oracle's _prf_field_sql
            (111, 5, "A", "F", None, 2300.0, 0.04, 0.01),
        ]
        _EDGE_LI = rows
    return _EDGE_LI


@pytest.fixture(scope="module")
def edge_li_df(spark):
    return spark.createDataFrame(
        _edge_li_rows(),
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_linestatus string, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double",
    )


@pytest.fixture(scope="module")
def edge_li_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE lineitem(l_orderkey BIGINT, l_linenumber INT,"
        " l_returnflag VARCHAR, l_linestatus VARCHAR, l_quantity DOUBLE,"
        " l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE)"
    )
    con.executemany(
        "INSERT INTO lineitem VALUES (?, ?, ?, ?, ?, ?, ?, ?)",
        _edge_li_rows(),
    )
    return con


def _li_cases():
    from pyspark.sql import functions as F

    from hillview_spark.operators import (
        histogram,
        maps,
        privacy,
        spreadsheet,
        stats,
    )

    return {
        # r12: bounded sum — the NaN quantity contributes ZERO (not a
        # dropped row), clipping clamps the 1..50 draws into [5, 40],
        # and the decimal-exact aggregate + one noise add must agree
        "dp_sum_quantity": lambda df: privacy.dp_sum(
            df, "l_quantity", lo=5.0, hi=40.0, epsilon=1.0, seed=7,
        ),
        "histogram1d_numeric": lambda df: histogram.histogram1d(
            df, "l_extendedprice", 40
        ),
        # r8: the progressive final stage shares the full-data
        # histogram's oracle — its partial stages must not perturb
        # the released (final) values on non-finite/NULL inputs
        "progressive_histogram": lambda df: (
            histogram.progressive_histogram_final(df, "l_extendedprice", 40)
        ),
        "cdf_numeric": lambda df: histogram.cdf(df, "l_extendedprice", 100),
        "histogram2d_heatmap": lambda df: histogram.histogram2d(
            df, "l_quantity", "l_extendedprice", 10, 10
        ),
        "histogram3d_trellis": lambda df: histogram.histogram_nd(
            df, [("l_returnflag", 0), ("l_quantity", 5), ("l_extendedprice", 5)]
        ),
        "histogram4d_trellis": lambda df: histogram.histogram_nd(
            df,
            [("l_returnflag", 0), ("l_linestatus", 0),
             ("l_quantity", 4), ("l_discount", 4)],
        ),
        "histogram_with_cdf": lambda df: histogram.histogram_with_cdf(
            df, "l_extendedprice", 50
        ),
        "histogram_quantiles": lambda df: histogram.histogram_quantiles(
            df, "l_quantity", 8, "l_extendedprice", [0.25, 0.5, 0.75]
        ),
        "data_range": lambda df: histogram.data_range(df, "l_extendedprice"),
        "quantiles_price": lambda df: stats.quantiles(
            df, "l_extendedprice", [0.1, 0.25, 0.5, 0.75, 0.9]
        ),
        "quantiles_approx": lambda df: stats.quantiles_approx(
            df, "l_extendedprice", [0.25, 0.5, 0.75], accuracy=1_000_000
        ).select(F.posexplode("quantiles").alias("idx", "value")),
        "basic_col_stats": lambda df: stats.basic_col_stats(
            df, ["l_quantity", "l_extendedprice", "l_discount"]
        ),
        # r9: the gate's finite-guarded computed-column expression —
        # non-finite price/discount must yield NULL revenue on both
        # engines, never a DuckDB DECIMAL-cast crash. Reuses the
        # gate's OWN expression constant so the pin can't drift from
        # what the driver actually runs.
        "computed_column": lambda df: maps.computed_column(
            df, "revenue", entry_mod.COMPUTED_REVENUE_EXPR
        ).select("l_orderkey", "l_linenumber", "revenue"),
        "quantized_histogram": lambda df: (
            maps.quantize_column(
                df, "l_extendedprice", 900.0, 105000.0, 16, out_col="q_price"
            )
            .where(F.col("q_price").isNotNull())
            .groupBy("q_price")
            .agg(F.count(F.lit(1)).alias("cnt"))
        ),
        "dp_histogram_quantity": lambda df: privacy.dp_histogram(
            df, "l_quantity", lo=1.0, hi=51.0, granularity=1.0,
            epsilon=1.0, buckets=10, seed=7,
        ),
        "dp_heatmap_qty_discount": lambda df: privacy.dp_heatmap(
            df, "l_quantity", "l_discount",
            xlo=1.0, xhi=51.0, xgranularity=1.0,
            ylo=0.0, yhi=0.11, ygranularity=0.01,
            epsilon=1.0, xbuckets=5, ybuckets=4, seed=7,
        ),
        # r8 (VERDICT r7 #6): the composed DP session trio and the
        # private spreadsheet page on quantization-boundary + NULL +
        # non-finite values — the PRF field escaping ('\\N' for NULL
        # sort keys) and the quantize/filter/bucket arithmetic must
        # agree cross-engine on exactly these shapes
        "dp_session_heatmap": lambda df: entry_mod._dp_session_view(
            df
        ).heatmap("l_quantity", "l_discount", xb=5, yb=4),
        "dp_session_histogram": lambda df: entry_mod._dp_session_view(
            df
        ).histogram("l_quantity", buckets=10),
        "dp_session_page": lambda df: entry_mod._dp_session_view(
            df
        ).page(["l_returnflag", "l_linestatus", "l_quantity"], epsilon=1.0),
        "dp_next_k_rows": lambda df: __import__(
            "hillview_spark.operators.privacy", fromlist=["x"]
        ).dp_next_k(
            df,
            ["l_returnflag", "l_linestatus", "l_quantity"],
            epsilon=1.0, k=20, seed=7,
        ),
        "next_k_rows": lambda df: spreadsheet.next_k(
            df, ["l_returnflag", "l_linestatus", "l_quantity"], k=20
        ),
        "next_k_list": lambda df: spreadsheet.next_k_list(
            df,
            ["l_returnflag", "l_linestatus", "l_quantity"],
            k=20,
            start=("N", "O", 10.0),
        ),
        "next_k_after": lambda df: spreadsheet.next_k(
            df,
            ["l_returnflag", "l_linestatus", "l_quantity"],
            k=20,
            start=("N", "O", 10.0),
        ),
        "row_comparison_filter": lambda df: df.where(
            __import__(
                "hillview_spark.operators.filters", fromlist=["x"]
            ).row_comparison_filter(
                ["l_returnflag", "l_linestatus"], ("N", "F"), "<"
            )
        ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"),
        "next_k_aggregate": lambda df: spreadsheet.next_k_aggregate(
            df,
            ["l_returnflag", "l_linestatus"],
            [("l_quantity", "sum"), ("l_extendedprice", "avg"),
             ("l_discount", "max")],
            k=10,
        ),
        "corr_matrix": lambda df: __import__(
            "hillview_spark.operators.correlation", fromlist=["x"]
        ).corr_matrix(
            df, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
        ),
    }


@pytest.mark.parametrize("key", sorted(_li_cases()))
def test_oracle_matches_on_nonfinite_numerics(spark, edge_li_df, edge_li_con, key):
    sdf = _li_cases()[key](edge_li_df)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_li_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on non-finite numerics"


# ------------------------------------------------------------------- part
# Driver-parameterized projections: the PROJECTION WEIGHTS come from a
# moments aggregate (mu/sd/corr) that must follow the finite rule — one
# NaN retail price would otherwise turn every weight (hence every
# projected row) into NaN. Per-row projections keep the raw columns: a
# non-finite row projects to NaN identically in both engines.

_EDGE_PART = None


def _edge_part_rows():
    global _EDGE_PART
    if _EDGE_PART is None:
        import random

        nan, inf = float("nan"), float("inf")
        rnd = random.Random(3)
        rows = [
            (i, rnd.randint(1, 50), round(900 + 13.5 * i, 2))
            for i in range(50)
        ]
        rows += [
            (100, 5, nan),
            (101, 7, inf),
            (102, None, 1000.0),
            (103, 9, None),
        ]
        _EDGE_PART = rows
    return _EDGE_PART


@pytest.fixture(scope="module")
def edge_part_df(spark):
    return spark.createDataFrame(
        _edge_part_rows(), "p_partkey long, p_size int, p_retailprice double"
    )


@pytest.fixture(scope="module")
def edge_part_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE part(p_partkey BIGINT, p_size INT,"
        " p_retailprice DOUBLE)"
    )
    con.executemany("INSERT INTO part VALUES (?, ?, ?)", _edge_part_rows())
    return con


def _part_cases():
    from hillview_spark.operators import correlation as corr

    return {
        "pca_project": lambda df: corr.pca_project(
            df, ["p_size", "p_retailprice"], k=2
        ).select("p_partkey", "pc0", "pc1"),
        "jl_project": lambda df: corr.jl_project(
            df, ["p_size", "p_retailprice"], k=2
        ).select("p_partkey", "jl0", "jl1"),
    }


@pytest.mark.parametrize("key", sorted(_part_cases()))
def test_oracle_matches_on_edge_part(spark, edge_part_df, edge_part_con, key):
    sdf = _part_cases()[key](edge_part_df)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_part_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on edge part rows"

# ------------------------------------------------------------- orders
# orders_rollup is an exploration key (not one of the benchmark-
# verbatim TPC-H 22), so it owes the engine-wide finite rule: a single
# Inf/NaN o_totalprice crashed the oracle's CAST(... AS DECIMAL(18,2))
# outright and would poison the rollup sums (r7 probe bug).

_EDGE_ORD = None


def _edge_ord_rows():
    global _EDGE_ORD
    if _EDGE_ORD is None:
        nan, inf = float("nan"), float("inf")
        rows = [
            (i, "OF"[i % 2], f"{i % 3}-PRIO", round(100.0 + 37.5 * i, 2))
            for i in range(30)
        ]
        rows += [
            (100, "O", "0-PRIO", inf),
            (101, "F", "1-PRIO", -inf),
            (102, "O", "2-PRIO", nan),
            (103, "F", None, 500.0),   # NULL rollup key vs grouping NULL
            (104, None, "0-PRIO", None),
        ]
        _EDGE_ORD = rows
    return _EDGE_ORD


@pytest.fixture(scope="module")
def edge_ord_df(spark):
    return spark.createDataFrame(
        _edge_ord_rows(),
        "o_orderkey long, o_orderstatus string, o_orderpriority string,"
        " o_totalprice double",
    )


@pytest.fixture(scope="module")
def edge_ord_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE orders(o_orderkey BIGINT, o_orderstatus VARCHAR,"
        " o_orderpriority VARCHAR, o_totalprice DOUBLE)"
    )
    con.executemany(
        "INSERT INTO orders VALUES (?, ?, ?, ?)", _edge_ord_rows()
    )
    return con


def test_orders_rollup_oracle_matches_on_nonfinite_totalprice(
    spark, edge_ord_df, edge_ord_con
):
    # mirror the gate's orders_rollup plan directly (the gate closure
    # reads parquet, this fixture is in-memory)
    from pyspark.sql import functions as F

    fin = (F.col("o_totalprice") > F.lit(float("-inf"))) & (
        F.col("o_totalprice") < F.lit(float("inf"))
    )
    sdf = (
        edge_ord_df.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(fin, F.col("o_totalprice")).cast("decimal(18,2)"))
            .cast("double").alias("sum_total"),
            F.grouping_id().cast("long").alias("lvl"),
        )
    )
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_ord_con.sql(entry_mod.oracle_sql()["orders_rollup"])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, "orders_rollup diverged on non-finite totalprice"


# --------------------------------------------------------------- geo
# A point with a NULL/NaN/±Inf coordinate is in NO region. The polygon
# half-plane oracle is the dangerous one: px = ±Inf makes an edge cross
# evaluate 0*inf = NaN, and DuckDB's NaN-greatest comparisons then call
# the point INSIDE while numpy's IEEE ray cast says outside. Both sides
# now guard finiteness explicitly.

_EDGE_CUST = None


def _edge_cust_rows():
    global _EDGE_CUST
    if _EDGE_CUST is None:
        nan, inf = float("nan"), float("inf")
        rows = [(i, round(100.0 + 400.0 * i, 2), i % 25) for i in range(25)]
        rows += [
            (100, nan, 5),
            (101, inf, 5),
            (102, None, 5),
            (103, 500.0, None),
            (104, -inf, 3),
        ]
        _EDGE_CUST = rows
    return _EDGE_CUST


_GEO_RECTS = [
    ("low_a", [(0.005, -0.5), (5000.005, -0.5),
               (5000.005, 12.5), (0.005, 12.5)]),
    ("high_a", [(5000.005, -0.5), (9999.005, -0.5),
                (9999.005, 12.5), (5000.005, 12.5)]),
    ("upper", [(0.005, 12.5), (9999.005, 12.5),
               (9999.005, 24.5), (0.005, 24.5)]),
]


@pytest.fixture(scope="module")
def edge_cust_df(spark):
    return spark.createDataFrame(
        _edge_cust_rows(),
        "c_custkey long, c_acctbal double, c_nationkey long",
    )


@pytest.fixture(scope="module")
def edge_cust_con():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE customer(c_custkey BIGINT, c_acctbal DOUBLE,"
        " c_nationkey BIGINT)"
    )
    con.executemany(
        "INSERT INTO customer VALUES (?, ?, ?)", _edge_cust_rows()
    )
    return con


def _geo_cases():
    from hillview_spark.functions import geo

    return {
        "geo_region_counts": lambda df: geo.count_by_region(
            df, "c_acctbal", "c_nationkey", _GEO_RECTS
        ),
        "geo_polygon_counts": lambda df: geo.count_by_region(
            df, "c_acctbal", "c_nationkey", entry_mod.GEO_POLYGON_REGIONS
        ),
    }


@pytest.mark.parametrize("key", sorted(_geo_cases()))
def test_oracle_matches_on_edge_coords(spark, edge_cust_df, edge_cust_con, key):
    sdf = _geo_cases()[key](edge_cust_df)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = edge_cust_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on edge coordinates"

# ---------------------------------------------------------- empty tables
# Zero-row inputs: every sketch must agree with its oracle on the
# aggregation identities (counts are 0, moments/ranges are NULL, spines
# still emit their full bucket range, top-k/dedup are empty). Caught
# live: SUM over zero rows is NULL in both engines but count() is 0, so
# present/missing counts diverged, and DuckDB's NULL-skipping GREATEST
# turned an empty stddev into 0.0.

_EMPTY_DEFS = {
    "lineitem": (
        "l_orderkey long, l_returnflag string, l_linestatus string,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_linenumber int, l_shipdate timestamp_ntz",
        "l_orderkey BIGINT, l_returnflag VARCHAR, l_linestatus VARCHAR,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE,"
        " l_tax DOUBLE, l_linenumber INT, l_shipdate TIMESTAMP_NS",
    ),
    "documents": (
        "doc_id long, text string, source string, lang string",
        "doc_id BIGINT, text VARCHAR, source VARCHAR, lang VARCHAR",
    ),
    "events": (
        "event_id long, user_id long, event_type string,"
        " ts timestamp_ntz, value double",
        "event_id BIGINT, user_id BIGINT, event_type VARCHAR,"
        " ts TIMESTAMP_NS, value DOUBLE",
    ),
    "embeddings": (
        "vec_id long, embedding array<float>, label int",
        "vec_id BIGINT, embedding FLOAT[], label INT",
    ),
}


@pytest.fixture(scope="module")
def empty_dfs(spark):
    return {
        t: spark.createDataFrame([], sschema)
        for t, (sschema, _) in _EMPTY_DEFS.items()
    }


@pytest.fixture(scope="module")
def empty_con():
    con = duckdb.connect()
    for t, (_, dschema) in _EMPTY_DEFS.items():
        con.execute(f"CREATE TABLE {t}({dschema})")
    return con


def _empty_cases():
    from pyspark.sql import functions as F

    from hillview_spark.functions import dedup, similarity, text
    from hillview_spark.operators import (
        heavy_hitters as hh,
        histogram,
        privacy,
        spreadsheet,
        stats,
    )
    from hillview_spark.streaming import events as ev

    return {
        "histogram1d_numeric": lambda d: histogram.histogram1d(
            d["lineitem"], "l_extendedprice", 40
        ),
        "data_range": lambda d: histogram.data_range(
            d["lineitem"], "l_extendedprice"
        ),
        "quantiles_price": lambda d: stats.quantiles(
            d["lineitem"], "l_extendedprice", [0.1, 0.25, 0.5, 0.75, 0.9]
        ),
        "basic_col_stats": lambda d: stats.basic_col_stats(
            d["lineitem"], ["l_quantity", "l_extendedprice", "l_discount"]
        ),
        "next_k_rows": lambda d: spreadsheet.next_k(
            d["lineitem"], ["l_returnflag", "l_linestatus", "l_quantity"],
            k=20,
        ),
        "heavy_hitters": lambda d: hh.heavy_hitters(
            d["documents"], ["lang"], epsilon=0.13
        ),
        "dedup_exact": lambda d: dedup.exact_dedup(d["documents"]),
        "text_token_count": lambda d: text.token_count(d["documents"]),
        "events_sessionize": lambda d: ev.sessionize(
            d["events"], gap_minutes=30
        ),
        "events_windowed_counts": lambda d: ev.windowed_counts(d["events"]),
        "ann_cosine_topk": lambda d: similarity.cosine_topk(
            d["embeddings"], query_id=0, k=10
        ),
        "dp_histogram_quantity": lambda d: privacy.dp_histogram(
            d["lineitem"], "l_quantity", lo=1.0, hi=51.0, granularity=1.0,
            epsilon=1.0, buckets=10, seed=7,
        ),
        "dp_count_lineitem": lambda d: privacy.dp_count(
            d["lineitem"], epsilon=1.0, seed=7
        ),
    }


@pytest.mark.parametrize("key", sorted(_empty_cases()))
def test_oracle_matches_on_empty_tables(spark, empty_dfs, empty_con, key):
    sdf = _empty_cases()[key](empty_dfs)
    cols = sorted(sdf.columns)
    got = sorted(repr(tuple(r[c] for c in cols)) for r in sdf.collect())
    rel = empty_con.sql(entry_mod.oracle_sql()[key])
    dcols = list(rel.columns)
    assert sorted(dcols) == cols, f"{key}: column drift {dcols} vs {cols}"
    order = [dcols.index(c) for c in cols]
    want = sorted(
        repr(tuple(row[i] for i in order)) for row in rel.fetchall()
    )
    assert got == want, f"{key} diverged on an empty table"

def test_salted_key_ops_fail_loud_on_null_keys(spark):
    """Identity keys are the one place the malformed-data contract is
    LOUD instead of quarantining: a NULL key makes a row's identity
    ambiguous — every NULL-keyed row would share one sampling coin
    (correlated draws) or one shuffle-rank hash (nondeterministic
    order among them), and no silent answer is correct. The declared
    behavior is an actionable raise telling the caller to coalesce to
    a sentinel or filter (sampling.salted_guard)."""
    from hillview_spark.functions import curation
    from hillview_spark.operators import sampling

    docs = spark.createDataFrame(
        [(1, "a", "web", "en"), (None, "b", "web", "en")],
        "doc_id long, text string, source string, lang string",
    )
    with pytest.raises(Exception, match="NULL key field"):
        curation.shuffle_corpus(docs).collect()
    with pytest.raises(Exception, match="NULL key field"):
        sampling.split_train_eval(docs, 0.1, "doc_id").collect()
    # the documented remedy works: sentinel-coalesced keys rank fine
    fixed = docs.fillna({"doc_id": -1})
    assert curation.shuffle_corpus(fixed).count() == 2
    # the SAMPLED sketches share the same coin (portable_bernoulli on
    # a composite key) and the same contract: a NULL field in the
    # sample key raises, it does not silently correlate draws
    from hillview_spark.operators import correlation, heavy_hitters

    li = spark.createDataFrame(
        [(1, 1, "N", 1.0, 2.0, 0.1), (None, 2, "R", 2.0, 3.0, 0.2)],
        "l_orderkey long, l_linenumber int, l_returnflag string,"
        " l_quantity double, l_extendedprice double, l_discount double",
    )
    with pytest.raises(Exception, match="NULL key field"):
        heavy_hitters.heavy_hitters_sampled(
            li, ["l_returnflag"], epsilon=0.2,
            sample_key=["l_orderkey", "l_linenumber"],
        ).collect()
    with pytest.raises(Exception, match="NULL key field"):
        correlation.corr_matrix(
            li, ["l_quantity", "l_extendedprice", "l_discount"],
            sample_fraction=0.5, sample_key=["l_orderkey", "l_linenumber"],
        ).collect()

def test_extract_json_value_matches_oracle_on_malformed_json(spark):
    """Malformed JSON extracts NULL in both engines (missing on parse
    failure). Spark's get_json_object is naturally lenient; DuckDB's
    json_extract_string raises on the first bad document — the oracle
    guards with json_valid so one bad props string can't crash the
    comparison (or, at scale, the release)."""
    from hillview_spark.operators import maps

    rows = [
        (1, '{"k": "v1", "n": 2}'),
        (2, '{"k": null}'),
        (3, '{"other": 1}'),
        (4, "not json at all"),
        (5, None),
        (6, ""),
        (7, '{"k": {"nested": true}}'),
        (8, "[1,2,3]"),
    ]
    sdf = spark.createDataFrame(rows, "event_id long, props string")
    con = duckdb.connect()
    con.execute("CREATE TABLE events(event_id BIGINT, props VARCHAR)")
    con.executemany("INSERT INTO events VALUES (?, ?)", rows)
    sr = maps.extract_json_value(sdf, "props", "k", "k_value").select(
        "event_id", "k_value"
    )
    got = sorted(repr((r.event_id, r.k_value)) for r in sr.collect())
    rel = con.sql(entry_mod.oracle_sql()["extract_json_value"])
    want = sorted(repr(tuple(row)) for row in rel.fetchall())
    assert got == want


def test_unicode_case_folding_oracle_domain(spark, edge_con):
    """r9 probe result, pinned as a DOCUMENTED oracle-domain limit:
    case-insensitive surfaces (string_filter mode-insensitive,
    text_fingerprint, stopword matching) follow the JVM's Unicode
    case mapping — the same library the Java reference uses — while
    the DuckDB oracle's utf8proc disagrees on exactly two classes:
    Turkish İ (U+0130: JVM lowers to 'i'+combining dot, utf8proc to
    plain 'i') and Greek final sigma (JVM picks ς at word end,
    utf8proc always σ). ASCII and 1:1 mappings (ß, ǅ, accents) agree.
    Oracle fixtures therefore stay out of those two classes; this
    test fails if either engine's mapping shifts, so the exclusion
    list stays honest."""
    from pyspark.sql import functions as F

    vals = ["İstanbul", "STRASSE", "ΣΟΦΟΣ", "ẞ", "ǅungla", "ÁBC"]
    sdf = spark.createDataFrame([(v,) for v in vals], "t string")
    got = dict(zip(vals, [
        r.l for r in sdf.select(F.lower("t").alias("l")).collect()
    ]))
    duck = {
        v: edge_con.sql("SELECT lower(?)", params=[v]).fetchone()[0]
        for v in vals
    }
    # agreement domain: everything except the two documented classes
    for v in ["STRASSE", "ẞ", "ǅungla", "ÁBC"]:
        assert got[v] == duck[v], (v, got[v], duck[v])
    # the two divergent classes, pinned exactly
    assert got["İstanbul"] == "i̇stanbul" and duck["İstanbul"] == "istanbul"
    assert got["ΣΟΦΟΣ"] == "σοφος" and duck["ΣΟΦΟΣ"] == "σοφοσ"


def test_json_extract_rendering_oracle_domain(spark):
    """r9 probe, pinned as a documented oracle-domain limit:
    get_json_object and DuckDB's json_extract_string agree on
    duplicate keys (first wins), JSON null (NULL), nested objects
    (minified), booleans, integers, plain decimals (both normalize
    1.50 -> '1.5'), and malformed docs (NULL) — but a numeric literal
    WRITTEN in scientific notation re-renders engine-specifically
    (Spark '1.0E-7' vs DuckDB '1e-7'). Oracle fixtures therefore keep
    numeric props out of scientific notation; this test fails if
    either engine's rendering shifts."""
    from pyspark.sql import functions as F

    vals = [
        '{"k": 1, "k": 2}', '{"k": null}', '{"k": {"x": 1}}',
        '{"k": 1.50}', '{"k": 42}', '{"k": true}', '{"k": 1.0}',
        "not json", None, '{"k": 1e-7}',
    ]
    sdf = spark.createDataFrame([(v,) for v in vals], "props string")
    got = [
        r.v for r in sdf.select(
            F.get_json_object("props", "$.k").alias("v")
        ).collect()
    ]
    con = duckdb.connect()
    duck = [
        con.execute(
            "SELECT CASE WHEN json_valid(?) THEN"
            " json_extract_string(CAST(? AS JSON), '$.k') END",
            [v, v],
        ).fetchone()[0] if v is not None else None
        for v in vals
    ]
    assert got[:-1] == duck[:-1], (got, duck)  # the agreement domain
    assert got[-1] == "1.0E-7" and duck[-1] == "1e-7"  # the exclusion


def test_heavy_hitters_threshold_boundary_inclusive(spark):
    """r9 probe: a value whose count is EXACTLY epsilon * totalRows
    is KEPT — the reference's fkFilter removes strictly-below only
    (FreqKList.java:121-127, `if (count < threshold) remove`), and
    the oracle's HAVING COUNT(*) >= eps * total matches. 20 rows,
    eps=0.25: a count of exactly 5 survives, 4 does not."""
    from hillview_spark.operators import heavy_hitters

    rows = [("a",)] * 5 + [("b",)] * 4 + [("c",)] * 11
    df = spark.createDataFrame(rows, "lang string")
    got = {
        r.lang: r.cnt
        for r in heavy_hitters.heavy_hitters(df, ["lang"], epsilon=0.25)
        .collect()
    }
    assert got == {"a": 5, "c": 11}  # 5 == 0.25*20 kept, 4 dropped
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["lang"]))
    want = dict(con.sql(
        "SELECT lang, COUNT(*) c FROM documents GROUP BY 1"
        " HAVING COUNT(*) >= 0.25 * (SELECT COUNT(*) FROM documents)"
    ).fetchall())
    assert got == want
