"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship query (q1 pricing summary) on sf0.001.
queries()       — one callable per implemented operator (SURVEY.md §2).
oracle_sql()    — DuckDB-equivalent ANSI SQL for each query key.

Determinism strategy: money/measure columns are exact low-decimal
values stored as double, so both sides cast to DECIMAL before
summing (order-independent exact sums), divide/convert in double
(bit-identical), and round identically. Per-row expressions are
written with the same operation order in Spark and SQL so IEEE
arithmetic is bit-identical.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from hillview_spark import numeric
from hillview_spark.tables import load_table
from hillview_spark.queries import tpch
from hillview_spark.operators import (
    correlation,
    filters,
    heavy_hitters,
    histogram,
    maps,
    privacy,
    sampling,
    spreadsheet,
    stats,
    temporal,
)
from hillview_spark.functions import dedup, multimodal, similarity, text
from hillview_spark.streaming import events as ev


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Convex CCW gate polygons over (c_acctbal, c_nationkey) — ONE source
# of truth for the gate query, the oracle's half-plane inequalities,
# and the plan tests. Geometry invariant: every edge keeps
# |cross| >= 0.005 from every representable data-lattice point
# (verified over the full lattice), so the SQL half-plane and numpy
# ray-cast formulations agree exactly.
GEO_POLYGON_REGIONS = [
    ("tri", [(100.505, -0.5), (9900.505, 8.5), (2000.505, 23.5)]),
    ("quad", [(4000.505, 1.5), (9900.505, 3.5),
              (9500.505, 21.5), (4500.505, 19.5)]),
]


# Shared parameters of the dp_session_heatmap gate key — ONE source of
# truth for the queries() lambda and the oracle builder (the oracle
# recomputes the lineage-derived seed and noise spine from these).
_DP_SESSION_SEED = 7
_DP_SESSION_FILTER = ("l_quantity", 6.0, 45.0)


def _dp_session_schema():
    from hillview_spark.operators.privacy import (
        ColumnQuantization, PrivacySchema,
    )

    return PrivacySchema(
        quantization={
            "l_quantity": ColumnQuantization(
                type="DoubleColumnQuantization",
                granularity=1.0, global_min=1.0, global_max=51.0,
            ),
            "l_discount": ColumnQuantization(
                type="DoubleColumnQuantization",
                granularity=0.01, global_min=0.0, global_max=0.11,
            ),
        },
        epsilons={"l_discount+l_quantity": 1.0},
    )


def _dp_session_view(lineitem: DataFrame):
    """quantize -> filter: the session state every noisy release in
    the composed gate query reads."""
    from hillview_spark import api

    col, lo, hi = _DP_SESSION_FILTER
    pv = api.PrivateTableView(
        api.TableView(lineitem), _dp_session_schema(), seed=_DP_SESSION_SEED,
    )
    return pv.filter_range(col, lo, hi)


def _scratch_dir(prefix: str) -> str:
    """mkdtemp + atexit cleanup: gate callables write per-invocation
    scratch (stream source dirs, persisted indexes) — without the
    cleanup a 153-key gate run leaves dozens of parquet copies in
    /tmp on a long-lived box."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _run_stream(s: SparkSession, d: str, builder, name: str,
                mode: str = "complete", **kw) -> DataFrame:
    """Drive a Structured Streaming twin END-TO-END inside a gate
    callable: symlink the events fixture into a fresh dir (file-
    stream sources read directories), run the stream with
    trigger(availableNow) + complete mode into a memory sink, await
    termination, and hand the released rows back as a batch
    DataFrame. This upgrades the streaming twins from pytest-only
    stream==batch evidence to DRIVER-GATE hash rows: the oracle is
    the same SQL as the batch release, so the stream must reproduce
    it through real watermark/state machinery, not by sharing code.
    Deterministic (seeded noise, availableNow drains the source
    fully); the memory table is uniquely named per invocation.
    Aggregations use complete mode (append would withhold the final
    watermark tail); the stream-stream join uses append — inner
    joins emit every match eagerly, so availableNow drains ALL
    pairs."""
    import os
    import uuid

    events_dir = _scratch_dir("gate-stream-")
    os.symlink(
        os.path.join(d, "events.parquet"),
        os.path.join(events_dir, "events.parquet"),
    )
    raw = s.read.parquet(os.path.join(d, "events.parquet"))
    qname = f"gate_{name}_{uuid.uuid4().hex[:8]}"
    sdf = builder(s, events_dir, raw.schema, **kw)
    q = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    # a timed-out stream must fail LOUDLY: returning the partially
    # populated memory table would surface as a baffling hash
    # mismatch on a correct implementation, and the abandoned query
    # would keep executors busy under every later gate key
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"gate stream {name} did not drain in 300s")
    return s.table(qname)


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: q1 pricing summary at sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    return tpch.q1_pricing_summary(_t(spark, sf_dir, "lineitem"))


# ------------------------------------------------------------- queries

# The gate's finite-guarded computed-column demo expression: identity
# on clean data, but a non-finite price/discount yields NULL revenue
# on BOTH engines instead of crashing DuckDB's DECIMAL cast (the
# engine-wide rule). Module-level so the edge suite exercises the
# SAME string the gate runs (r9 review: a copy in the test silently
# stops covering the real expression when one side is edited).
COMPUTED_REVENUE_EXPR = (
    "CAST(CAST(CASE WHEN l_extendedprice > double('-inf')"
    " AND l_extendedprice < double('inf') THEN l_extendedprice END"
    " AS DECIMAL(18,2))"
    " * (1 - CAST(CASE WHEN l_discount > double('-inf')"
    " AND l_discount < double('inf') THEN l_discount END"
    " AS DECIMAL(18,2))) AS DOUBLE)"
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Key order = driver-gate execution order: each round's newest
    or longest-unverified keys are rotated to the FRONT (the driver
    gate checks ~50 keys per round). Round 5: the new operators lead,
    then the 50 core sketch/map keys whose last driver row was
    round 1 (re-proof rotation), then everything else."""
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- round-5 additions (newest — gate-first) ---------------------
    from hillview_spark.functions import search

    q["bm25_search"] = lambda s, d: search.bm25_search(
        _t(s, d, "documents"), ["spark", "hash", "vector"]
    )
    q["text_lm_nll"] = lambda s, d: text.bigram_lm_nll(
        _t(s, d, "documents"), alpha=0.1
    )
    q["semantic_dedup"] = lambda s, d: similarity.semantic_dedup(
        _t(s, d, "embeddings"), threshold=0.4, n_cells=8, stride=50
    )
    q["tfidf_top_terms"] = lambda s, d: search.top_terms_per_doc(
        _t(s, d, "documents"), k=3, min_df=2, max_df_frac=0.95
    )

    # rows+schema oracle (r6): BPE merge learning is inherently
    # iterative (merge k depends on state after k-1) — no static SQL
    # value twin; the oracle pins row count + schema. The algorithm
    # is deterministic (pytest proves merges + counts on the Sennrich
    # reference example and train-twice equality).
    def _bpe_count(s, d):
        from hillview_spark.functions import bpe

        docs = _t(s, d, "documents")
        merges = bpe.bpe_train(docs, num_merges=50, max_vocab_words=20_000)
        return bpe.bpe_encode(docs, merges)

    q["bpe_token_count"] = _bpe_count

    # --- corpus curation -------------------------------------------
    from hillview_spark.functions import curation

    q["text_pii_scrub"] = lambda s, d: curation.pii_scrub(
        _t(s, d, "documents")
    )
    q["text_repetition_stats"] = lambda s, d: curation.repetition_stats(
        _t(s, d, "documents")
    )
    def _decontaminate(s, d):
        docs = _t(s, d, "documents")
        ev_docs = docs.where(F.col("doc_id") % 20 == 0)
        train = docs.where(F.col("doc_id") % 20 != 0)
        return curation.decontaminate(train, ev_docs, n=5).select(
            "doc_id", "source", "lang"
        )

    q["decontaminate_train"] = _decontaminate

    def _decontaminate_bloom(s, d):
        # generously-sized filter (4M bits vs ~50K eval 5-grams at
        # sf0.01): zero false positives on this corpus, so the exact
        # decontamination SQL doubles as the oracle — any FP would
        # surface as a hash mismatch, which is the point.
        docs = _t(s, d, "documents")
        ev_docs = docs.where(F.col("doc_id") % 20 == 0)
        train = docs.where(F.col("doc_id") % 20 != 0)
        return curation.decontaminate_bloom(train, ev_docs, n=5).select(
            "doc_id", "source", "lang"
        )

    q["decontaminate_bloom"] = _decontaminate_bloom

    def _decontaminate_spans(s, d):
        # r13 (late block — leads r14's new-key slots): span-level
        # decontamination — report the actual train/eval overlapping
        # spans instead of binary-dropping contaminated docs
        docs = _t(s, d, "documents")
        ev_docs = docs.where(F.col("doc_id") % 20 == 0)
        train = docs.where(F.col("doc_id") % 20 != 0)
        return dedup.contamination_spans(train, ev_docs, n=5)

    q["decontaminate_spans"] = _decontaminate_spans

    def _decontaminate_spans_remove(s, d):
        # r14 (VERDICT-r13 directive #4): the EDIT half — cut the
        # contaminated spans from the train docs, keep everything
        # else (surgical alternative to decontaminate's doc drop)
        docs = _t(s, d, "documents")
        ev_docs = docs.where(F.col("doc_id") % 20 == 0)
        train = docs.where(F.col("doc_id") % 20 != 0)
        return dedup.remove_contaminated_spans(train, ev_docs, n=5)

    q["decontaminate_spans_remove"] = _decontaminate_spans_remove
    # salt pinned explicitly: the oracle re-derives the md5 rank with
    # this literal (r12 oracle review — literal-drift class)
    q["corpus_shuffle"] = lambda s, d: curation.shuffle_corpus(
        _t(s, d, "documents"), salt="shuffle1"
    ).select("doc_id", "shuffle_rank")
    # r12 (late block — these lead r13's new-key slots together with
    # corpus_budget_select, after the 10 TPC-H stragglers):
    # merit-ranked per-group cap + exact-quota stratified split
    q["corpus_quality_cap"] = lambda s, d: (
        curation.quality_cap_per_group(
            _t(s, d, "documents"), group_col="source", max_per_group=5,
            quality_col="n_chars", key_col="doc_id",
        ).select("doc_id", "source", "n_chars")
    )
    q["split_stratified"] = lambda s, d: (
        sampling.stratified_split(
            _t(s, d, "documents"), 0.1, "doc_id", "source", salt="v1"
        ).select("doc_id", "source", "split")
    )
    q["corpus_budget_select"] = lambda s, d: (
        curation.select_within_budget(
            _t(s, d, "documents"), budget=20000,
            quality_col="n_chars", cost_col="n_chars", id_col="doc_id",
        ).select("doc_id", "n_chars", "cum_cost")
    )
    # r12: temperature-scaled mixture shares (n^alpha balancing)
    q["mixture_temperature"] = lambda s, d: (
        curation.mixture_temperature_weights(
            _t(s, d, "documents"), alpha=0.5, ndigits=6
        )
    )
    q["sample_mixture"] = lambda s, d: curation.sample_to_mixture(
        _t(s, d, "documents"), {"src0": 0.5, "src1": 0.25}
    ).select("doc_id", "source")
    q["chunk_documents"] = lambda s, d: curation.chunk_documents(
        _t(s, d, "documents"), chunk_tokens=40, overlap=8
    )
    q["pack_sequences"] = lambda s, d: curation.pack_sequences(
        curation.chunk_documents(_t(s, d, "documents"), 40, 8),
        budget_tokens=120, n_groups=16,
    ).select("doc_id", "chunk_id", "pack_group", "seq_id")
    q["remove_repeated_segments"] = (
        lambda s, d: curation.remove_repeated_segments(
            _t(s, d, "documents"), segment_tokens=10, min_df=2
        )
    )
    # C4 line rules need multi-line text; the fixture docs are single
    # line, so the key first splits them into sentence-ish lines via a
    # deterministic token replacement both engines perform identically.
    q["corpus_clean_lines"] = lambda s, d: curation.clean_lines(
        _t(s, d, "documents").withColumn(
            "text", F.regexp_replace("text", " value ", ".\n")
        ),
        min_words=3,
    )
    q["corpus_cap_per_group"] = lambda s, d: curation.cap_per_group(
        _t(s, d, "documents"), "source", max_per_group=5
    ).select("doc_id", "source")

    def _geo_counts(s, d):
        # testdata has no lat/lon; (c_acctbal, c_nationkey) stand in as
        # coordinates. Rectangular regions so the SQL oracle can mirror
        # the containment exactly (the operator still runs its general
        # ray-casting path); boundaries sit between representable
        # values so no point lies on an edge.
        from hillview_spark.functions import geo

        regions = [
            ("low_a", [(0.005, -0.5), (5000.005, -0.5),
                       (5000.005, 12.5), (0.005, 12.5)]),
            ("high_a", [(5000.005, -0.5), (9999.005, -0.5),
                        (9999.005, 12.5), (5000.005, 12.5)]),
            ("upper", [(0.005, 12.5), (9999.005, 12.5),
                       (9999.005, 24.5), (0.005, 24.5)]),
        ]
        return geo.count_by_region(
            _t(s, d, "customer"), "c_acctbal", "c_nationkey", regions
        )

    q["geo_region_counts"] = _geo_counts

    def _geo_polygon_counts(s, d):
        # NON-rectangular gate coverage for the ray-casting path
        # (VERDICT-r6 directive #7): CCW CONVEX polygons, so the SQL
        # oracle expresses containment as ANDed half-plane cross-
        # product inequalities while the operator still runs its
        # general even-odd ray cast — two independent formulations
        # that agree exactly because every edge keeps |cross| >=
        # 0.005 from every representable (acctbal, nationkey) lattice
        # point (verified over the full lattice), 8 orders above
        # double rounding. The polygons overlap on purpose: first-
        # region-wins in assign_region == CASE WHEN order in SQL.
        from hillview_spark.functions import geo

        return geo.count_by_region(
            _t(s, d, "customer"), "c_acctbal", "c_nationkey",
            GEO_POLYGON_REGIONS,
        )

    q["geo_polygon_counts"] = _geo_polygon_counts

    # real-codec multimodal gate coverage (VERDICT r6 #6, r7 #5):
    # synthesize real PNG/JPEG/GIF/BMP payloads whose dims are a
    # closed form of doc_id, then probe the actual bytes back — the
    # oracle derives dims arithmetically, so encode or header-parse
    # corruption in ANY of the four codecs shows up as a hash
    # mismatch.
    q["media_dims_histogram"] = lambda s, d: multimodal.dims_histogram(
        multimodal.synthesize_media(_t(s, d, "documents")), decoder="stdlib"
    )

    def _logs_parse_syslog(s, d):
        # Grok surface cross-engine: format syslog-style lines from
        # the events table (integer renders are engine-identical),
        # dissect with LOG_PATTERNS['syslog'], return typed fields.
        from hillview_spark.sources import readers

        lines = _t(s, d, "events").select(
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

    q["logs_parse_syslog"] = _logs_parse_syslog

    # --- differential privacy (binary mechanism) ---------------------
    # The oracle re-derives every Laplace draw inside DuckDB from the
    # md5 tree-node key instead of taking Python-computed noise
    # literals.
    q["dp_histogram_quantity"] = lambda s, d: privacy.dp_histogram(
        _t(s, d, "lineitem"), "l_quantity",
        lo=1.0, hi=51.0, granularity=1.0, epsilon=1.0, buckets=10, seed=7,
    )
    q["dp_cdf_quantity"] = lambda s, d: privacy.dp_histogram(
        _t(s, d, "lineitem"), "l_quantity",
        lo=1.0, hi=51.0, granularity=1.0, epsilon=1.0, buckets=10, seed=7,
        cdf=True,
    )
    # rows+schema oracle (r6): driver-side iterative optimization
    # (the brief's non-SQL-expressible category) — the oracle pins
    # row count + schema; pytest checks distance preservation on a
    # known 2-D manifold.
    q["metric_mds_controls"] = lambda s, d: correlation.metric_mds(
        _t(s, d, "embeddings").select(
            "vec_id",
            F.col("embedding")[0].alias("e0"),
            F.col("embedding")[1].alias("e1"),
            F.col("embedding")[2].alias("e2"),
            F.col("embedding")[3].alias("e3"),
        ),
        ["e0", "e1", "e2", "e3"],
        n_points=60,
        key_col="vec_id",
    )

    # hash-oracled: the cell noise is keyed by the PORTABLE md5 PRF
    # over (epoch seconds, event_type) — DuckDB reproduces the draw
    # bit-for-bit; the streaming twin shares the same expression.
    q["dp_windowed_counts"] = lambda s, d: ev.dp_windowed_counts(
        _t(s, d, "events"), "hour", epsilon=1.0, seed=7
    )
    # r12: the continual bounded-SUM release (counts/histogram/sum
    # family complete); 'wsum' domain tag, sensitivity = hi = 250
    q["dp_windowed_sum"] = lambda s, d: ev.dp_windowed_sum(
        _t(s, d, "events"), unit="hour", col="value", lo=0.0,
        hi=250.0, epsilon=1.0, seed=7
    )
    # r13: the continual bounded-MEAN release — eps-split ratio
    # composition of the sum and count mechanisms per cell, under
    # dp_windowed_mean's OWN 'wmsum'/'wmcnt' domain tags
    q["dp_windowed_mean"] = lambda s, d: ev.dp_windowed_mean(
        _t(s, d, "events"), unit="hour", col="value", lo=0.0,
        hi=250.0, epsilon=1.0, seed=7
    )
    # r13 (late block — leads r14): private DAU, the continual
    # family's DISTINCT release; 'wdist' tag, event-level adjacency
    q["dp_windowed_distinct"] = lambda s, d: ev.dp_windowed_distinct(
        _t(s, d, "events"), unit="hour", col="user_id",
        epsilon=1.0, seed=7
    )
    # r14 (late block — leads r15): the continual UNKNOWN-DOMAIN
    # release, "private trending values per day" — per-(window,
    # value) stability histogram under the 'wtrend' tag. delta=0.05
    # puts tau ~8.88 inside sf0.001's 2..15 per-(day, type) counts
    # (the threshold genuinely drops cells there); at sf0.01 every
    # cell (47..86) clears it and the hash evidence is the noisy
    # values — the threshold drop at sf0.01 scale is unit-pinned.
    q["dp_windowed_trending"] = lambda s, d: ev.dp_windowed_trending(
        _t(s, d, "events"), unit="day", col="event_type",
        epsilon=1.0, delta=0.05, seed=7,
    )
    # r15 (VERDICT-r14 directive #3): USER-level DP windowed counts —
    # bound_contributions (deterministic salted-hash cap, k=1 per
    # (user, hour) + each user's first-by-hash 56 windows) composed
    # BEFORE the windowed-counts mechanism, releasing under the
    # composed family's own 'uwcnt' tag. Both bounds genuinely bite
    # on the fixtures: k=1 trims 426 (user, hour) cells at sf0.01 and
    # 49 at sf0.001; max_windows=56 is under both fixtures' 63-ish
    # median windows/user (max 83/80).
    q["dp_windowed_counts_user_level"] = (
        lambda s, d: ev.dp_windowed_counts_user_level(
            _t(s, d, "events"), unit="hour", epsilon=1.0, seed=7,
            k=1, by="user_id", max_windows=56, key_col="event_id",
            salt="bound1",
        )
    )
    # r15 LATE BLOCK (leads r16): USER-level private trending — the
    # contribution bound composed with the unknown-domain stability
    # histogram under 'uwtrend'. eps=2/delta=0.05 -> tau~5.19 and
    # k=1/day + max_windows=20 (< both fixtures' 22-30 day-windows
    # per user): the cap AND the threshold bite at both fixtures —
    # 3/112 capped day-cells release at sf0.001, 119/129 at sf0.01.
    q["dp_windowed_trending_user_level"] = (
        lambda s, d: ev.dp_windowed_trending_user_level(
            _t(s, d, "events"), unit="day", col="event_type",
            epsilon=2.0, delta=0.05, seed=7, k=1, by="user_id",
            max_windows=20, key_col="event_id", salt="bound1",
        )
    )
    # hash-oracled since r6: with the engine-portable md5 PRF the
    # whole Chan-Song-Shi release — hour leaf, base-20 digit
    # decomposition of the prefix, per-node draw, ordered noise sum —
    # is re-derived in DuckDB SQL and hash-checked.
    q["dp_prefix_counts"] = lambda s, d: ev.dp_prefix_counts(
        _t(s, d, "events"), epsilon=1.0, seed=7
    )
    # continual HISTOGRAM release (r6): per-window value-bucket cells
    # under the same portable cell noise; streaming twin tested
    q["dp_windowed_histogram"] = lambda s, d: ev.dp_windowed_histogram(
        _t(s, d, "events"), "hour", "value",
        lo=0.0, hi=500.0, buckets=10, epsilon=1.0, seed=7,
    )
    _SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    # column_index=1: c_mktsegment owns its own PRF tree — with the
    # default index 0 its 5-leaf unit nodes would draw the SAME noise
    # as l_quantity's (seed 7, ci 0) leading nodes, and subtracting
    # the two releases would cancel noise on the shared nodes (the
    # reference prevents this by giving every schema column a
    # distinct index; the standalone gate calls must too).
    q["dp_histogram_mktsegment"] = lambda s, d: privacy.dp_histogram_string(
        _t(s, d, "customer"), "c_mktsegment", _SEGMENTS, epsilon=1.0, seed=7,
        column_index=1,
    )
    q["dp_count_lineitem"] = lambda s, d: privacy.dp_count(
        _t(s, d, "lineitem"), epsilon=1.0, seed=7
    )
    # r12: the bounded-sum/mean mechanisms — clip bounds chosen so
    # clipping actually bites on the fixture (quantity spans 1..50,
    # value exceeds 250), exercising the clamp path, not just the sum
    q["dp_sum_quantity"] = lambda s, d: privacy.dp_sum(
        _t(s, d, "lineitem"), "l_quantity", lo=5.0, hi=40.0,
        epsilon=1.0, seed=7
    )
    q["dp_mean_value"] = lambda s, d: privacy.dp_mean(
        _t(s, d, "events"), "value", lo=0.0, hi=250.0,
        epsilon=1.0, seed=7
    )
    q["dp_distinct_custkey"] = lambda s, d: privacy.dp_distinct_count(
        _t(s, d, "orders"), "o_custkey", epsilon=1.0, seed=7
    )
    # r13 (late block — leads r14 with decontaminate_spans): the
    # stability histogram over an UNKNOWN domain — which user ids are
    # frequent, (eps, delta)-DP with the domain protected by the
    # threshold, no curated bucket list. delta=1e-14 puts tau ~67.4
    # inside the fixture's 49..88 count range, so the threshold
    # genuinely drops values at both fixtures.
    q["dp_active_users"] = lambda s, d: privacy.dp_histogram_unknown_domain(
        _t(s, d, "events"), "user_id", epsilon=1.0, delta=1e-14, seed=7,
    )
    q["dp_next_k_rows"] = lambda s, d: privacy.dp_next_k(
        _t(s, d, "lineitem"),
        ["l_returnflag", "l_linestatus", "l_quantity"],
        epsilon=1.0, k=20, seed=7,
    )
    q["dp_quantiles_quantity"] = lambda s, d: privacy.dp_quantiles(
        _t(s, d, "lineitem"), "l_quantity",
        lo=1.0, hi=51.0, granularity=1.0, epsilon=1.0,
        probs=[0.25, 0.5, 0.75, 0.95], buckets=10, seed=7,
    )
    q["dp_heatmap_qty_discount"] = lambda s, d: privacy.dp_heatmap(
        _t(s, d, "lineitem"), "l_quantity", "l_discount",
        xlo=1.0, xhi=51.0, xgranularity=1.0,
        ylo=0.0, yhi=0.11, ygranularity=0.01,
        epsilon=1.0, xbuckets=5, ybuckets=4, seed=7,
    )
    # the composed private SESSION a DPWrapper user actually runs:
    # curator-quantized view -> range filter (fresh lineage seed) ->
    # noisy heatmap, all through api.PrivateTableView. Hash-oracled:
    # the oracle recomputes the lineage seed + folded column index +
    # node-pair spine with the same library code and replays the
    # quantize/filter/bucket arithmetic in SQL.
    q["dp_session_heatmap"] = lambda s, d: _dp_session_view(
        _t(s, d, "lineitem")
    ).heatmap("l_quantity", "l_discount", xb=5, yb=4)
    # the most common session query shape: noisy 1-D histogram over
    # the same quantized+filtered view (same lineage-derived seed)
    q["dp_session_histogram"] = lambda s, d: _dp_session_view(
        _t(s, d, "lineitem")
    ).histogram("l_quantity", buckets=10)
    # private spreadsheet page through the same session: next-K
    # distinct quantized sort keys, per-key noisy duplicate counts
    # (md5 PRF on the key values + the fallback column-combination
    # index), noisy rows-scanned riding along
    q["dp_session_page"] = lambda s, d: _dp_session_view(
        _t(s, d, "lineitem")
    ).page(["l_returnflag", "l_linestatus", "l_quantity"], epsilon=1.0)

    # --- dedup (LLM-pipeline) ----------------------------------------
    q["dedup_exact"] = lambda s, d: dedup.exact_dedup(_t(s, d, "documents"))
    q["dedup_ngram_jaccard"] = lambda s, d: dedup.ngram_jaccard_pairs(
        _t(s, d, "documents"), threshold=0.3
    )
    # r15 late block (leads r16): asymmetric containment |A∩B|/|A| —
    # the quote-detection direction Jaccard structurally misses; both
    # direction scores released, pair kept when the larger clears 0.8
    q["dedup_ngram_containment"] = (
        lambda s, d: dedup.ngram_containment_pairs(
            _t(s, d, "documents"), threshold=0.8
        )
    )
    q["dedup_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_pairs(
        _t(s, d, "documents"), num_hashes=16, bands=4
    )
    q["dedup_simhash"] = lambda s, d: dedup.simhash_pairs(
        _t(s, d, "documents"), max_hamming=3
    )
    q["dedup_lsh_verify"] = lambda s, d: dedup.verify_jaccard(
        _t(s, d, "documents"),
        dedup.minhash_lsh_pairs(_t(s, d, "documents"), 16, 4),
        threshold=0.3,
    )
    q["dedup_components"] = lambda s, d: dedup.connected_components(
        dedup.ngram_jaccard_pairs(_t(s, d, "documents"), threshold=0.3)
    )
    # r13: exact-substring dedup (Lee et al. 2022 ExactSubstr) —
    # n-gram seeds + interval-merge extension; n=5 so the fixture's
    # shared phrases actually seed spans, min_sites=2
    q["dedup_substring"] = lambda s, d: dedup.repeated_spans(
        _t(s, d, "documents"), n=5, min_sites=2
    )
    q["dedup_substring_remove"] = lambda s, d: dedup.remove_repeated_spans(
        _t(s, d, "documents"), n=5, min_sites=2
    )
    # r14 (VERDICT-r13 directive #3): the Lee et al. keep-one policy
    # — the first (doc_id, pos) site of each duplicated gram is
    # exempt, so the earliest occurrence still trains once
    q["dedup_substring_keep_one"] = lambda s, d: dedup.remove_repeated_spans(
        _t(s, d, "documents"), n=5, min_sites=2, keep="first"
    )
    q["dedup_representatives"] = lambda s, d: dedup.select_representatives(
        dedup.connected_components(
            dedup.ngram_jaccard_pairs(_t(s, d, "documents"), threshold=0.3)
        ),
        _t(s, d, "documents"),
    )
    q["text_fingerprint"] = lambda s, d: text.fingerprint(_t(s, d, "documents"))

    # --- similarity search (LLM-pipeline) ----------------------------
    q["ann_cosine_topk"] = lambda s, d: similarity.cosine_topk(
        _t(s, d, "embeddings"), query_id=0, k=10
    )
    q["ann_lsh_topk"] = lambda s, d: similarity.ann_lsh(
        _t(s, d, "embeddings"), query_id=0, k=10, planes=4
    )
    # Exact quadratic baselines, gate-scoped to a quarter of the
    # vectors (vec_id % 4 = 0): same code path, 1/16 the pair count —
    # the full-table gate keys are the LSH-blocked scale paths below.
    q["dedup_embedding_cosine"] = lambda s, d: similarity.cosine_dup_pairs(
        _t(s, d, "embeddings").where(F.col("vec_id") % 4 == 0), threshold=0.4
    )
    q["ann_knn_join"] = lambda s, d: similarity.knn_join(
        _t(s, d, "embeddings").where(F.col("vec_id") % 4 == 0), k=3
    )
    # The 100-TB paths, oracle-checked on the FULL table: candidates
    # restricted to shared LSH buckets (equi-join, no cartesian).
    q["ann_knn_join_lsh"] = lambda s, d: similarity.knn_join(
        _t(s, d, "embeddings"), k=3, planes=8
    )
    q["dedup_embedding_cosine_lsh"] = lambda s, d: similarity.cosine_dup_pairs(
        _t(s, d, "embeddings"), threshold=0.4, planes=4
    )

    # IVF exact twin (deterministic data-point quantizer, in-plan
    # decimal assign/probe) so the key is oracle-hashable; the k-means
    # + Arrow throughput sibling (similarity.ivf_topk) stays
    # pytest-covered (tests/test_functions.py).
    q["ann_ivf_topk"] = lambda s, d: similarity.ivf_topk_exact(
        _t(s, d, "embeddings"), query_id=0, k=10, n_cells=8, n_probe=3,
        stride=50,
    )

    # the PERSISTED index path (r7): write the exact-twin cell-
    # partitioned layout to a temp dir, then search it — n_probe
    # becomes partition pruning, and the result must hash-match the
    # same oracle as the live twin (bit-identical by construction).
    def _ivf_indexed(s, d):
        emb = _t(s, d, "embeddings")
        path = _scratch_dir("gate-ivf-") + "/index"
        similarity.ivf_write_index_exact(emb, path, n_cells=8, stride=50)
        qv = emb.where(F.col("vec_id") == 0).first().embedding
        return similarity.ivf_topk_indexed_exact(
            s, path, qv, query_id=0, k=10, n_probe=3
        )

    q["ann_ivf_topk_indexed"] = _ivf_indexed

    # the persisted LSH index's crawl-ingest shape (r7): write the
    # corpus (doc_id % 20 != 0) band table to a temp dir, then dedupe
    # the incoming batch (doc_id % 20 == 0) against it — signatures
    # are per-doc, so the oracle re-derives the same candidate pairs
    # by banding everything and restricting to corpus x batch.
    def _lsh_indexed(s, d):
        docs = _t(s, d, "documents")
        path = _scratch_dir("gate-lsh-") + "/index"
        dedup.lsh_write_index(
            docs.where(F.col("doc_id") % 20 != 0), path, 16, 4
        )
        return dedup.lsh_query_index(
            s, path, docs.where(F.col("doc_id") % 20 == 0)
        )

    q["dedup_lsh_index_query"] = _lsh_indexed

    # sources layer end-to-end (r7): write the orders table out as
    # CSV (headers, quoting, timestamp formatting) and read it back
    # with the declared schema — the gate hashes the round-tripped
    # VALUES against the parquet originals, so a lossy writer/parser
    # (float formatting, timestamp truncation, quote handling) fails
    # the driver gate, not just pytest.
    def _csv_roundtrip(s, d):
        from hillview_spark.sources import readers, writers

        orders = _t(s, d, "orders")
        path = _scratch_dir("gate-csv-") + "/orders_csv"
        # the FAITHFUL combo: '\N' null sentinel + quoted empties +
        # multiLine parse, so NULL/''-aliasing and embedded newlines
        # cannot silently pass (see write_csv/read_csv docstrings)
        writers.write_csv(orders, path, null_value="\\N")
        schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in orders.schema.fields
        )
        return readers.read_csv(
            s, path, schema=schema, multiline=True, null_value="\\N"
        )

    q["csv_roundtrip_orders"] = _csv_roundtrip
    # Product quantization: compressed codes + asymmetric-distance
    # search, both decimal-exact twins (same stride codebook rule)
    q["pq_encode"] = lambda s, d: similarity.pq_encode_exact(
        _t(s, d, "embeddings").where("vec_id <> 0"), m=4, k=8, stride=50
    )
    q["pq_topk"] = lambda s, d: similarity.pq_topk_exact(
        _t(s, d, "embeddings"), query_id=0, n_results=10, m=4, k=8,
        stride=50,
    )
    q["embedding_group_centroids"] = lambda s, d: similarity.group_centroids(
        _t(s, d, "embeddings"), "label"
    )

    # --- text analysis (LLM-pipeline) ---------------------------------
    q["text_token_count"] = lambda s, d: text.token_count(_t(s, d, "documents"))
    q["text_quality_score"] = lambda s, d: text.quality_score(
        _t(s, d, "documents")
    )
    q["text_lang_id"] = lambda s, d: text.lang_id(_t(s, d, "documents"))

    # --- streaming-semantics (batch-checkable) ------------------------
    q["events_windowed_counts"] = lambda s, d: ev.windowed_counts(
        _t(s, d, "events"), "hour"
    )
    # the ACTUAL Structured Streaming twins, driven to completion
    # inside the gate (r7): hash-oracled against the same SQL as the
    # batch release — the stream must reproduce it through real
    # watermark + state machinery.
    q["events_windowed_counts_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_windowed_counts, "wincounts"
    )
    q["dp_windowed_counts_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_dp_windowed_counts, "dpwincounts",
        epsilon=1.0, seed=7,
    )
    q["events_sliding_counts_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_sliding_counts, "slidecounts"
    )
    q["events_click_purchase_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_click_purchase_join, "ssjoin", mode="append"
    )
    q["dp_windowed_sum_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_dp_windowed_sum, "dpwinsum",
        col="value", lo=0.0, hi=250.0, epsilon=1.0, seed=7,
    )
    q["dp_windowed_mean_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_dp_windowed_mean, "dpwinmean",
        col="value", lo=0.0, hi=250.0, epsilon=1.0, seed=7,
    )
    q["dp_windowed_distinct_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_dp_windowed_distinct, "dpwindist",
        col="user_id", epsilon=1.0, seed=7,
    )
    q["dp_windowed_trending_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_dp_windowed_trending, "dpwintrend",
        window_duration="1 day", watermark="2 days",
        col="event_type", epsilon=1.0, delta=0.05, seed=7,
    )
    q["dp_windowed_histogram_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_dp_windowed_histogram, "dpwinhist",
        col="value", lo=0.0, hi=500.0, buckets=10, epsilon=1.0, seed=7,
    )
    q["events_sessionize"] = lambda s, d: ev.sessionize(
        _t(s, d, "events"), gap_minutes=30
    )
    q["events_sliding_counts"] = lambda s, d: ev.sliding_window_counts(
        _t(s, d, "events"), window_minutes=60, slide_minutes=15
    )
    q["events_click_purchase"] = lambda s, d: ev.click_purchase_pairs(
        _t(s, d, "events"), gap_minutes=30
    )
    # r11 additions: distinct-entity windows (batch + real stream twin
    # — distinct aggs are unsupported in streaming plans, so the twin
    # composes watermarked dropDuplicates + count) and the Lee et al.
    # duplicate-n-gram corpus quality signal
    # r12 oracle review (defect class: literal drift) — every kwarg a
    # gate oracle mirrors as an embedded literal is passed EXPLICITLY
    # below, even when it equals the operator default, so a future
    # default change cannot silently diverge query and oracle.
    q["events_windowed_distinct"] = lambda s, d: ev.windowed_distinct(
        _t(s, d, "events"), unit="hour", col="user_id"
    )
    q["events_windowed_distinct_stream"] = lambda s, d: _run_stream(
        s, d, ev.stream_windowed_distinct, "windistinct"
    )
    q["ngram_novelty"] = lambda s, d: curation.ngram_novelty(
        _t(s, d, "documents"), n=3, min_df=2
    )
    q["events_windowed_quantiles"] = lambda s, d: ev.windowed_quantiles(
        _t(s, d, "events"), unit="hour", col="value",
        probs=(0.5, 0.9, 0.99), ndigits=4
    )
    q["events_cohort_retention"] = lambda s, d: ev.cohort_retention(
        _t(s, d, "events")
    )
    q["events_funnel"] = lambda s, d: ev.funnel_counts(
        _t(s, d, "events"), steps=("click", "view", "purchase")
    )
    q["events_windowed_anomaly"] = lambda s, d: ev.windowed_anomaly(
        _t(s, d, "events"), unit="hour", history=6, min_history=3
    )
    q["events_transitions"] = lambda s, d: ev.transition_counts(
        _t(s, d, "events")
    )

    # r11: snapshot reconciliation — both snapshots derive from the
    # fixture deterministically (old drops doc_id%3==0, new drops
    # %5==0 and rewrites %7==0), so added/removed/changed/unchanged
    # all occur and the oracle rebuilds the identical sides
    def _corpus_diff(s, d):
        docs = _t(s, d, "documents")
        old = docs.where(F.col("doc_id") % 3 != 0)
        new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat_ws(" ", F.col("text"), F.lit("v2")),
            ).otherwise(F.col("text")),
        )
        return curation.corpus_diff(old, new)

    q["corpus_diff"] = _corpus_diff
    q["dp_transitions"] = lambda s, d: ev.dp_transition_counts(
        _t(s, d, "events"), epsilon=1.0, seed=7
    )
    q["events_paths"] = lambda s, d: ev.path_counts(
        _t(s, d, "events"), depth=3
    )
    q["events_gap_quantiles"] = lambda s, d: ev.inter_event_gaps(
        _t(s, d, "events"), probs=(0.5, 0.9), ndigits=4
    )
    q["events_windowed_topk"] = lambda s, d: ev.windowed_topk(
        _t(s, d, "events"), unit="hour", col="event_type", k=3,
        ties="truncate"
    )
    q["events_windowed_topk_keep"] = lambda s, d: ev.windowed_topk(
        _t(s, d, "events"), unit="hour", col="event_type", k=3,
        ties="keep"
    )
    # gap_minutes pinned to 30 = the value the oracle inherits by
    # embedding the events_sessionize CTE (the r11-verdict CTE-reuse
    # coupling: sessionize's default changing must not move this key)
    q["events_session_stats"] = lambda s, d: ev.session_stats(
        _t(s, d, "events"), gap_minutes=30, probs=(0.5, 0.9), ndigits=4
    )
    q["events_retention_rate"] = lambda s, d: ev.retention_rate(
        _t(s, d, "events")
    )
    q["events_conversion_time"] = lambda s, d: ev.conversion_time(
        _t(s, d, "events"), from_step="click", to_step="purchase",
        probs=(0.5, 0.9), ndigits=4
    )
    q["events_rolling_actives"] = lambda s, d: ev.rolling_active_users(
        _t(s, d, "events"), window_days=7
    )
    q["text_collocations"] = lambda s, d: text.collocations(
        _t(s, d, "documents"), min_count=5
    )

    q["orders_status_by_month"] = lambda s, d: (
        _t(s, d, "orders")
        .groupBy(
            histogram.trunc_ntz(F.col("o_orderdate"), "month").alias("month_start"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # ROLLUP: hierarchical totals in one pass (Spark expands grouping
    # sets before the shuffle — still a single scan + one aggregate)
    def _orders_rollup(s, d):
        # present = FINITE (engine-wide rule): explicit guard so one
        # Inf/NaN totalprice can't crash the ANSI/DuckDB DECIMAL cast
        # or poison the rollup sums (r7 probe bug)
        fin = numeric.finite_pred(F.col("o_totalprice"))
        return (
            _t(s, d, "orders")
            .rollup("o_orderstatus", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.when(fin, F.col("o_totalprice")).cast("decimal(18,2)"))
                .cast("double").alias("sum_total"),
                F.grouping_id().cast("long").alias("lvl"),
            )
        )

    q["orders_rollup"] = _orders_rollup
    q["events_moving_avg"] = lambda s, d: temporal.moving_aggregate(
        _t(s, d, "events"), n_preceding=3
    )

    # --- round-2 additions -------------------------------------------
    q["range_filter_array"] = lambda s, d: _t(s, d, "lineitem").where(
        filters.range_filter_array([
            {"col": "l_quantity", "lo": 10, "hi": 30},
            {"col": "l_extendedprice", "lo": 1000.0, "hi": 20000.0},
            {"col": "l_shipdate", "lo": "1996-01-01", "hi": "1996-12-31"},
        ])
    ).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    q["row_quantiles"] = lambda s, d: stats.row_quantiles(
        _t(s, d, "customer"), ["c_nationkey", "c_name"], 8
    )
    # hash-oracled since r6: the portable md5 Bernoulli coin on the
    # row key makes the sampled subset engine-reproducible; round(4)
    # absorbs aggregation-order float drift as in corr_matrix.
    q["corr_matrix_sampled"] = lambda s, d: correlation.corr_matrix(
        _t(s, d, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
        sample_fraction=0.5,
        sample_key=["l_orderkey", "l_linenumber"],
    )
    q["text_vocab"] = lambda s, d: text.vocab(
        _t(s, d, "documents"), min_count=5
    )
    q["text_quality_filter"] = lambda s, d: text.quality_filter(
        _t(s, d, "documents"), min_tokens=10, min_quality=0.5
    ).select("doc_id")
    q["dedup_corpus_pipeline"] = lambda s, d: dedup.dedup_corpus(
        _t(s, d, "documents"), threshold=0.3
    ).select("doc_id")
    q["split_train_eval"] = lambda s, d: sampling.split_train_eval(
        _t(s, d, "documents"), 0.1, "doc_id"
    ).select("doc_id", "split")
    def _asof(s, d):
        ev_t = _t(s, d, "events")
        us = (
            "CAST(timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', {c}) AS LONG)"
        )
        clicks = ev_t.where(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        # present = FINITE (engine-wide numeric rule): explicit guard
        # rather than the non-ANSI NaN/Inf->decimal->NULL cast accident
        # (which is job-fatal under ANSI, and was job-fatal in the
        # DuckDB oracle's DECIMAL cast)
        fin = numeric.finite_pred(F.col("value"))
        errors = (
            ev_t.where(F.col("event_type") == "error")
            .groupBy("user_id", "ts")
            .agg(F.max(F.when(fin, F.col("value")).cast("decimal(18,6)"))
                 .cast("double").alias("err_value"))
        )
        out = temporal.asof_join(clicks, errors, "ts", ["user_id"], ["err_value"])
        # unmatched rows -> sentinels (NULLs don't sort in the hash
        # comparator's tuples)
        return out.select(
            "event_id",
            "user_id",
            F.expr(us.format(c="ts")).alias("ts_us"),
            F.coalesce(F.expr(us.format(c="ts_r")), F.lit(-1)).alias("err_ts_us"),
            F.coalesce("err_value_r", F.lit(-1.0)).alias("err_value_r"),
        )

    q["asof_join_events"] = _asof

    def _range_join(s, d):
        ev_t = _t(s, d, "events")
        sessions = ev.sessionize(ev_t, gap_minutes=30)
        return temporal.range_join(
            ev_t.select("event_id", "user_id", "ts"),
            sessions, "ts", "session_start", "session_end", ["user_id"],
            bucket_seconds=1800,
        ).select("event_id", "user_id", "session_id")

    q["range_join_sessions"] = _range_join

    q["histogram_singleton"] = lambda s, d: histogram.histogram_and_singleton(
        _t(s, d, "part"), "p_retailprice", 100
    )
    q["string_columns_filter"] = lambda s, d: _t(s, d, "documents").where(
        filters.string_columns_filter(["text", "source"], "merge")
    ).select("doc_id")
    q["row_comparison_filter"] = lambda s, d: _t(s, d, "lineitem").where(
        filters.row_comparison_filter(
            ["l_returnflag", "l_linestatus"], ("N", "F"), "<"
        )
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    q["quantized_histogram"] = lambda s, d: (
        maps.quantize_column(
            _t(s, d, "lineitem"), "l_extendedprice", 900.0, 105000.0, 16,
            out_col="q_price",
        )
        .where(F.col("q_price").isNotNull())
        .groupBy("q_price")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    # --- TPC-H-ish analytical queries -------------------------------
    # (driver-green-in-r1 q1/q3/q5/q6 registered at the end of the
    # block so never-driver-checked keys run first if the gate caps)
    q["q4_late_orders"] = lambda s, d: tpch.q4_late_orders(
        _t(s, d, "orders"), _t(s, d, "lineitem")
    )
    q["q10_returned_items"] = lambda s, d: tpch.q10_returned_items(
        _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
    )
    q["q14_promo_revenue"] = lambda s, d: tpch.q14_promo_revenue(
        _t(s, d, "lineitem"), _t(s, d, "part")
    )
    q["q7_volume_shipping"] = lambda s, d: tpch.q7_volume_shipping(
        _t(s, d, "lineitem"), _t(s, d, "orders"), _t(s, d, "customer"),
        _t(s, d, "supplier"), _t(s, d, "nation")
    )
    q["q15_top_supplier"] = lambda s, d: tpch.q15_top_supplier(
        _t(s, d, "lineitem"), _t(s, d, "supplier")
    )
    q["q18_large_orders"] = lambda s, d: tpch.q18_large_orders(
        _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
    )
    q["q19_discounted_revenue"] = lambda s, d: tpch.q19_discounted_revenue(
        _t(s, d, "lineitem"), _t(s, d, "part")
    )
    q["q22_sales_opportunity"] = lambda s, d: tpch.q22_sales_opportunity(
        _t(s, d, "customer"), _t(s, d, "orders")
    )
    q["q2_min_cost_supplier"] = lambda s, d: tpch.q2_min_cost_supplier(
        _t(s, d, "part"), _t(s, d, "supplier"), _t(s, d, "nation"),
        _t(s, d, "region"), _t(s, d, "lineitem")
    )
    q["q8_market_share"] = lambda s, d: tpch.q8_market_share(
        _t(s, d, "part"), _t(s, d, "supplier"), _t(s, d, "lineitem"),
        _t(s, d, "orders"), _t(s, d, "customer"), _t(s, d, "nation"),
        _t(s, d, "region")
    )
    q["q9_product_type_profit"] = lambda s, d: tpch.q9_product_type_profit(
        _t(s, d, "part"), _t(s, d, "supplier"), _t(s, d, "lineitem"),
        _t(s, d, "orders"), _t(s, d, "nation")
    )
    q["q11_important_parts"] = lambda s, d: tpch.q11_important_parts(
        _t(s, d, "lineitem"), _t(s, d, "supplier"), _t(s, d, "nation")
    )
    q["q12_shipmode_priority"] = lambda s, d: tpch.q12_shipmode_priority(
        _t(s, d, "orders"), _t(s, d, "lineitem")
    )
    q["q13_customer_order_distribution"] = (
        lambda s, d: tpch.q13_customer_order_distribution(
            _t(s, d, "customer"), _t(s, d, "orders")
        )
    )
    q["q16_supplier_part_counts"] = lambda s, d: tpch.q16_supplier_part_counts(
        _t(s, d, "part"), _t(s, d, "supplier"), _t(s, d, "lineitem")
    )
    q["q17_small_quantity_revenue"] = (
        lambda s, d: tpch.q17_small_quantity_revenue(
            _t(s, d, "lineitem"), _t(s, d, "part")
        )
    )
    q["q20_part_promotion"] = lambda s, d: tpch.q20_part_promotion(
        _t(s, d, "supplier"), _t(s, d, "lineitem"), _t(s, d, "part")
    )
    q["q21_suppliers_kept_waiting"] = (
        lambda s, d: tpch.q21_suppliers_kept_waiting(
            _t(s, d, "supplier"), _t(s, d, "lineitem"), _t(s, d, "orders")
        )
    )
    q["q1_pricing_summary"] = lambda s, d: tpch.q1_pricing_summary(
        _t(s, d, "lineitem")
    )
    q["q3_shipping_priority"] = lambda s, d: tpch.q3_shipping_priority(
        _t(s, d, "customer"), _t(s, d, "orders"), _t(s, d, "lineitem")
    )
    q["q5_local_supplier"] = lambda s, d: tpch.q5_local_supplier(
        _t(s, d, "customer"),
        _t(s, d, "orders"),
        _t(s, d, "lineitem"),
        _t(s, d, "supplier"),
        _t(s, d, "nation"),
        _t(s, d, "region"),
    )
    q["q6_revenue_forecast"] = lambda s, d: tpch.q6_revenue_forecast(
        _t(s, d, "lineitem")
    )

    # --- histogram sketches -----------------------------------------
    q["histogram1d_numeric"] = lambda s, d: histogram.histogram1d(
        _t(s, d, "lineitem"), "l_extendedprice", 40
    )
    # Progressive partial results (PartialResult.java analogue): the
    # key checks the terminal exact stage; earlier sampled stages are
    # pytest-verified (tests/test_operators.py) since sampling is not
    # portable to the SQL oracle.
    q["progressive_histogram"] = lambda s, d: histogram.progressive_histogram_final(
        _t(s, d, "lineitem"), "l_extendedprice", 40
    )
    q["cdf_numeric"] = lambda s, d: histogram.cdf(
        _t(s, d, "lineitem"), "l_extendedprice", 100
    )
    q["histogram2d_heatmap"] = lambda s, d: histogram.histogram2d(
        _t(s, d, "lineitem"), "l_quantity", "l_extendedprice", 10, 10
    )
    q["histogram3d_trellis"] = lambda s, d: histogram.histogram_nd(
        _t(s, d, "lineitem"),
        [("l_returnflag", 0), ("l_quantity", 5), ("l_extendedprice", 5)],
    )
    q["histogram_string"] = lambda s, d: histogram.histogram_string(
        _t(s, d, "orders"), "o_orderpriority"
    )
    q["histogram_string_bounded"] = lambda s, d: histogram.histogram_string_bounded(
        _t(s, d, "orders"), "o_orderpriority", ["1", "3", "5"]
    )
    q["histogram4d_trellis"] = lambda s, d: histogram.histogram_nd(
        _t(s, d, "lineitem"),
        [("l_returnflag", 0), ("l_linestatus", 0),
         ("l_quantity", 4), ("l_discount", 4)],
    )
    q["histogram_date_month"] = lambda s, d: histogram.histogram_date(
        _t(s, d, "orders"), "o_orderdate", "month"
    )
    q["data_range"] = lambda s, d: histogram.data_range(
        _t(s, d, "lineitem"), "l_extendedprice"
    )
    q["data_range_interval"] = lambda s, d: histogram.data_range_interval(
        maps.interval_column(
            _t(s, d, "lineitem"), "qty_range", "l_quantity", "l_extendedprice"
        ),
        "qty_range",
    )
    q["histogram_with_cdf"] = lambda s, d: histogram.histogram_with_cdf(
        _t(s, d, "lineitem"), "l_extendedprice", 50
    )
    q["histogram_quantiles"] = lambda s, d: histogram.histogram_quantiles(
        _t(s, d, "lineitem"), "l_quantity", 8, "l_extendedprice",
        [0.25, 0.5, 0.75],
    )

    # --- stats sketches ---------------------------------------------
    q["quantiles_price"] = lambda s, d: stats.quantiles(
        _t(s, d, "lineitem"), "l_extendedprice", [0.1, 0.25, 0.5, 0.75, 0.9]
    )
    q["basic_col_stats"] = lambda s, d: stats.basic_col_stats(
        _t(s, d, "lineitem"), ["l_quantity", "l_extendedprice", "l_discount"]
    )
    q["distinct_count"] = lambda s, d: stats.distinct_count(
        _t(s, d, "lineitem"), "l_partkey"
    )
    q["distinct_values"] = lambda s, d: stats.distinct_values(
        _t(s, d, "documents"), "lang"
    )
    q["table_summary"] = lambda s, d: stats.table_summary(_t(s, d, "orders"))
    q["string_quantiles"] = lambda s, d: stats.string_quantiles(
        _t(s, d, "customer"), "c_name", 8
    )
    q["num_items_threshold"] = lambda s, d: stats.num_items_threshold(
        _t(s, d, "part"), "p_type", 100
    )
    q["table_profile"] = lambda s, d: stats.table_profile(
        _t(s, d, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )

    # --- spreadsheet view -------------------------------------------
    q["next_k_rows"] = lambda s, d: spreadsheet.next_k(
        _t(s, d, "lineitem"),
        ["l_returnflag", "l_linestatus", "l_quantity"],
        k=20,
    )
    q["next_k_after"] = lambda s, d: spreadsheet.next_k(
        _t(s, d, "lineitem"),
        ["l_returnflag", "l_linestatus", "l_quantity"],
        k=20,
        start=("N", "O", 10.0),
    )
    # the complete NextKList (r8): page + start_position (scrollbar
    # thumb) + rows_scanned, anchor-inclusive
    q["next_k_list"] = lambda s, d: spreadsheet.next_k_list(
        _t(s, d, "lineitem"),
        ["l_returnflag", "l_linestatus", "l_quantity"],
        k=20,
        start=("N", "O", 10.0),
    )
    q["next_k_aggregate"] = lambda s, d: spreadsheet.next_k_aggregate(
        _t(s, d, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        [("l_quantity", "sum"), ("l_extendedprice", "avg"),
         ("l_discount", "max")],
        k=10,
    )
    q["find_substring"] = lambda s, d: spreadsheet.find_rows(
        _t(s, d, "documents"), "text", "spark merge", mode="substring"
    )
    # the complete FindSketch Result (r8): before/at/after counts
    # around the anchor plus the first match's sort key
    q["find_first_row"] = lambda s, d: spreadsheet.find_first(
        _t(s, d, "documents"), "text", "spark merge", ["doc_id"],
        start=(100,),
    )

    # --- heavy hitters ----------------------------------------------
    q["heavy_hitters"] = lambda s, d: heavy_hitters.heavy_hitters(
        _t(s, d, "documents"), ["lang"], epsilon=0.13
    )
    def _prog_hh(s, d):
        *_, last = heavy_hitters.progressive_heavy_hitters(
            _t(s, d, "documents"), ["lang"], epsilon=0.13, stages=(0.1, 1.0)
        )
        return last

    q["progressive_heavy_hitters"] = _prog_hh
    q["exact_freq"] = lambda s, d: heavy_hitters.exact_freq(
        _t(s, d, "events"), "event_type", ["click", "view", "error"]
    )
    # hash-oracled since r6: the sampling coin is the PORTABLE md5
    # Bernoulli on the (orderkey, linenumber) row key, so candidates
    # AND confirmed counts are pure functions of the data — DuckDB
    # replays the whole two-scan sketch.
    q["heavy_hitters_sampled"] = lambda s, d: heavy_hitters.heavy_hitters_sampled(
        _t(s, d, "lineitem"), ["l_returnflag"], epsilon=0.2,
        sample_key=["l_orderkey", "l_linenumber"],
    )
    # hash-oracled since r6: at gate SF the GK sketch's rank error
    # eps*n = n/accuracy < 1, so the engine-native percentile_approx
    # is PROVABLY exact; and the gate fixtures' row counts (6e3/6e4)
    # make every p*n an integer, where Spark's and DuckDB
    # quantile_disc's rank conventions provably coincide (verified
    # sf0.001 + sf0.01; at non-round n, e.g. sf0.1, the conventions
    # can differ by one neighboring element — the driver gate runs
    # sf0.01). The sketch code path still runs; production callers
    # keep the default accuracy=10000.
    # one row per probe (cross-engine array typing is flaky to hash)
    q["quantiles_approx"] = lambda s, d: stats.quantiles_approx(
        _t(s, d, "lineitem"), "l_extendedprice", [0.25, 0.5, 0.75],
        accuracy=1_000_000,
    ).select(F.posexplode("quantiles").alias("idx", "value"))

    # --- filters / maps ---------------------------------------------
    q["range_filter"] = lambda s, d: _t(s, d, "lineitem").where(
        filters.range_filter("l_shipdate", "1996-01-01", "1996-12-31")
        & filters.range_filter("l_quantity", 10, 20)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    q["string_filter_regex"] = lambda s, d: _t(s, d, "documents").where(
        filters.string_filter("text", r"agg\s+(join|merge)", mode="regex",
                              case_sensitive=True)
    ).select("doc_id")
    q["project_columns"] = lambda s, d: maps.project(
        _t(s, d, "part"), ["p_partkey", "p_brand", "p_retailprice"]
    )
    q["convert_column"] = lambda s, d: maps.convert_column(
        _t(s, d, "orders"), "o_custkey", "string", "cust_str"
    ).select("o_orderkey", "cust_str")
    q["computed_column"] = lambda s, d: maps.computed_column(
        _t(s, d, "lineitem"),
        "revenue",
        COMPUTED_REVENUE_EXPR,
    ).select("l_orderkey", "l_linenumber", "revenue")
    q["extract_json_value"] = lambda s, d: maps.extract_json_value(
        _t(s, d, "events"), "props", "k", "k_value"
    ).select("event_id", "k_value")
    q["set_operation"] = lambda s, d: maps.set_operation(
        _t(s, d, "documents").where(F.col("text").contains("spark")).select("doc_id"),
        _t(s, d, "documents").where(F.col("text").contains("merge")).select("doc_id"),
        "intersect",
    )
    q["interval_column"] = lambda s, d: maps.interval_column(
        _t(s, d, "lineitem"), "qty_range", "l_quantity", "l_extendedprice"
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("qty_range.start").alias("iv_start"),
        F.col("qty_range.end").alias("iv_end"),
    )

    # --- sampling ----------------------------------------------------
    q["systematic_sample"] = lambda s, d: sampling.systematic_sample(
        _t(s, d, "lineitem"), "l_orderkey", 100
    ).select("l_orderkey", "l_linenumber", "l_quantity")

    # --- correlation / projection -----------------------------------
    q["corr_matrix"] = lambda s, d: correlation.corr_matrix(
        _t(s, d, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    q["category_centroids"] = lambda s, d: correlation.category_centroids(
        _t(s, d, "events"), "event_type", ["value"]
    )
    q["jl_project"] = lambda s, d: correlation.jl_project(
        _t(s, d, "part"), ["p_size", "p_retailprice"], k=2
    ).select("p_partkey", "jl0", "jl1")
    q["pca_project"] = lambda s, d: correlation.pca_project(
        _t(s, d, "part"), ["p_size", "p_retailprice"], k=2
    ).select("p_partkey", "pc0", "pc1")
    q["lamp_project"] = lambda s, d: correlation.lamp_project(
        _t(s, d, "part"), ["p_size", "p_retailprice"], n_controls=50,
        key_col="p_partkey",
    )

    # --- further exploration queries ---------------------------------
    def _top_customers_revenue(s, d):
        # present = FINITE (engine-wide rule, same guard as
        # orders_rollup): one Inf/NaN totalprice must not crash the
        # ANSI/DuckDB DECIMAL cast or poison the sum (r8 probe bug)
        fin = numeric.finite_pred(F.col("o_totalprice"))
        return (
            _t(s, d, "orders")
            .join(F.broadcast(_t(s, d, "customer")),
                  F.col("o_custkey") == F.col("c_custkey"))
            .groupBy("c_custkey", "c_name")
            .agg(F.sum(F.when(fin, F.col("o_totalprice"))
                       .cast("decimal(18,2)"))
                 .cast("double").alias("total_spent"))
            .orderBy(F.desc("total_spent"), "c_custkey")
            .limit(10)
        )

    q["top_customers_revenue"] = _top_customers_revenue

    def _part_type_stats(s, d):
        fin = numeric.finite_pred(F.col("p_retailprice"))
        return (
            _t(s, d, "part")
            .groupBy("p_type")
            .agg(
                F.count(F.lit(1)).alias("n_parts"),
                F.sum(F.when(fin, F.col("p_retailprice"))
                      .cast("decimal(18,2)"))
                .cast("double").alias("sum_price"),
                F.min("p_size").alias("min_size"),
                F.max("p_size").alias("max_size"),
            )
        )

    q["part_type_stats"] = _part_type_stats
    q["events_user_topk"] = lambda s, d: (
        _t(s, d, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy(F.desc("n_events"), "user_id")
        .limit(10)
    )
    q["docs_source_lang_matrix"] = lambda s, d: (
        _t(s, d, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    # --- round-14 gate rotation --------------------------------------
    # The driver gate checks ~50 keys per round in dict insertion
    # order. FRESHNESS POLICY (r14, VERDICT-r13 directive #6 — the
    # real invariant, replacing the arithmetically-dead <=2-round
    # rule): with ~193 keys and 50 slots/round, every key is
    # driver-gated at least every FOUR rounds via cohort rotation —
    # each round's slate = (a) keys whose operator/oracle changed
    # this round + brand-new keys, (b) never-driver-gated keys from
    # the previous round's late block, (c) as much of the stalest
    # cohort as fits. Between gate visits the backstop is the
    # recorded dual-fixture FULL sweeps (tools/check_oracle.py over
    # all keys at sf0.01 AND sf0.001, run every round).
    # Priority this round (VERDICT r14 directive #1):
    # (a) 5 churn/new: dedup_substring_keep_one (keep='first'
    #     de-skewed — exempt site now min(struct) on the gram
    #     aggregate, no per-gm rank; value-identical, plan changed),
    #     dedup_substring / dedup_substring_remove /
    #     decontaminate_spans_remove (_dup_coverage keep-validation
    #     + _cut_spans id-qualification on their paths —
    #     value-identical, file-touched; decontaminate_spans'
    #     contamination_spans path is untouched and stays in its
    #     cohort), dp_windowed_counts_user_level (NEW — user-level
    #     DP via contribution bounding, 'uwcnt' tag).
    # (b) the 2 never-driver-gated late-r14 keys (hash-proven at
    #     both fixtures twice — builder sweeps + judge replicas).
    # (c) the first 43 of the r11-stale cohort (the verdict's list —
    #     49 keys by literal count, "48" in its prose — in verbatim
    #     order). 5 + 2 + 43 = 50 exactly.
    # r15 LATE BLOCK (hash-proven at sf0.001 AND sf0.01, not in this
    # slate): dp_windowed_trending_user_level and
    # dedup_ngram_containment. r16 gate = r16 churn + these 2 late
    # keys + the 6 displaced r11 keys (q7_volume_shipping,
    # range_filter, range_filter_array, sample_mixture,
    # semantic_dedup, text_pii_scrub — oldest first) + as much of
    # the 47-key r12 cohort as fits.
    priority = [
        # (a) r15 churn + new
        "dedup_substring_keep_one", "dedup_substring",
        "dedup_substring_remove", "decontaminate_spans_remove",
        "dp_windowed_counts_user_level",
        # (b) the never-driver-gated late-r14 block
        "dp_windowed_trending", "dp_windowed_trending_stream",
        # (c) the r11-stale cohort (first 43 of 48)
        "ann_cosine_topk", "ann_ivf_topk", "ann_ivf_topk_indexed",
        "ann_knn_join", "ann_knn_join_lsh", "ann_lsh_topk",
        "category_centroids", "corpus_cap_per_group",
        "corpus_clean_lines", "csv_roundtrip_orders",
        "decontaminate_train", "dedup_embedding_cosine",
        "dedup_embedding_cosine_lsh", "dedup_exact",
        "dedup_lsh_index_query", "dedup_minhash_lsh",
        "dedup_ngram_jaccard", "dedup_representatives",
        "dp_cdf_quantity", "dp_count_lineitem", "dp_distinct_custkey",
        "dp_histogram_mktsegment", "dp_histogram_quantity",
        "dp_quantiles_quantity", "dp_windowed_counts",
        "dp_windowed_counts_stream", "dp_windowed_histogram",
        "dp_windowed_histogram_stream", "embedding_group_centroids",
        "events_click_purchase", "events_click_purchase_stream",
        "events_moving_avg", "events_sliding_counts",
        "events_sliding_counts_stream", "events_windowed_counts_stream",
        "exact_freq", "jl_project", "lamp_project",
        "media_dims_histogram", "pq_encode", "pq_topk",
        "progressive_heavy_hitters", "progressive_histogram",
    ]
    assert len(priority) == 50, len(priority)
    missing = [k for k in priority if k not in q]
    assert not missing, f"priority rotation names unknown keys: {missing}"
    return {k: q[k] for k in priority} | {
        k: v for k, v in q.items() if k not in priority
    }


# ---------------------------------------------------------------- oracle

# Shared SQL fragments for the dedup/text oracles (DuckDB dialect).
_SHINGLES = r"""
    toks AS (SELECT doc_id,
                    list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '') t
             FROM documents),
    sh AS (SELECT DISTINCT doc_id, t[i]||' '||t[i+1]||' '||t[i+2] AS s
           FROM toks, UNNEST(generate_series(1, len(t)-2)) u(i))
"""

# Exact decimal vector ops mirroring functions/similarity.py: elements
# double→DECIMAL(10,8), exact sums, double math in the same shape.
def _prf_field_sql(expr: str) -> str:
    """DuckDB twin of privacy._prf_field: cast to VARCHAR, double
    backslashes, escape '|', NULL -> the '\\N' sentinel. chr(92)
    spells the backslash so the SQL text can't be bitten by literal
    escape-mode differences. Identity on the fixture values — the
    twinning matters for '|'/backslash/NULL keys."""
    return (
        f"COALESCE(REPLACE(REPLACE(CAST({expr} AS VARCHAR), "
        "chr(92), chr(92)||chr(92)), '|', chr(92)||'|'), chr(92)||'N')"
    )


def _kadic_spine_sql(key_cols: list[str], cells, seed: int, ci: int,
                     scale: float) -> str:
    """CTE chain re-deriving a binary-mechanism noise spine ENTIRELY
    in DuckDB SQL (VERDICT-r6 directive #1): the only embedded
    literals are the DATA-INDEPENDENT k-adic node coordinates (pure
    interval arithmetic from the curator grid — privacy.
    kadic_decomposition), never a noise value. Each draw's uniform comes
    from the md5 tree-node key (privacy._uniform: first 13 hex digits of
    md5('seed|ci|a:s|...')), clamped and pushed through the
    SecureLaplace inverse CDF, and per-cell draws sum via
    list_sum(list(... ORDER BY ord)) — a sequential fold in node
    order, matching the Python spine's float sum bit-for-bit (the
    same recipe the dp_prefix_counts oracle hash-proved in r6).

    cells: [(key_literals_tuple, [node_str, ...])] where node_str is
    one draw's PRF suffix — 'a:s' for 1-D nodes, 'xa:xs|ya:ys' for
    heatmap node PAIRS. Yields a CTE chain ending in
    noise({key_cols}, noise, n_intervals, variance)."""
    rows = []
    for key_vals, nodes in cells:
        for ordn, node in enumerate(nodes):
            vals = ", ".join(str(v) for v in key_vals)
            rows.append(f"({vals}, {ordn}, '{node}')")
    keys = ", ".join(key_cols)
    var = 2.0 * scale * scale
    return f"""
        kadic_nodes({keys}, ord, node) AS (
            VALUES {", ".join(rows)}
        ), kadic_draws AS (
            SELECT {keys}, ord,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5('{seed}|{ci}|' || node),
                            1, 13)) AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM kadic_nodes
        ), noise AS (
            SELECT {keys},
                   list_sum(list(
                       CASE WHEN 0.5 - u < 0
                            THEN -({scale!r}) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE {scale!r} * LN(1.0 - 2.0 * (0.5 - u)) END
                       ORDER BY ord)) AS noise,
                   CAST(COUNT(*) AS INT) AS n_intervals,
                   CAST(COUNT(*) AS DOUBLE) * {var!r} AS variance
            FROM kadic_draws GROUP BY {keys}
        )"""


def _count_noise_sql(seed: int, ci: int, epsilon: float,
                     special: int = -1) -> str:
    """Scalar SQL expression for ONE md5 count-noise draw
    (privacy.count_noise: node (special, 0), scale 1/epsilon) —
    re-derived in-engine, not injected as a Python literal."""
    return _scaled_noise_sql(seed, ci, 1.0 / epsilon, special)


def _scaled_noise_sql(seed: int, ci: int, scale: float,
                      special: int) -> str:
    """The same single-draw recipe at an arbitrary Laplace scale —
    dp_sum/dp_mean's sensitivity/epsilon draws (r12)."""
    return f"""(
        WITH cn_u AS (
            SELECT LEAST(GREATEST(
                CAST(('0x' || substr(md5('{seed}|{ci}|{special}:0'),
                     1, 13)) AS BIGINT)
                * POWER(CAST(2.0 AS DOUBLE), -52),
                POWER(CAST(2.0 AS DOUBLE), -53)),
                1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
        )
        SELECT CASE WHEN 0.5 - u < 0
                    THEN -({scale!r}) * LN(1.0 - 2.0 * (u - 0.5))
                    ELSE {scale!r} * LN(1.0 - 2.0 * (0.5 - u)) END
        FROM cn_u
    )"""


def _fin_elem_sql(x: str) -> str:
    """Crash-proof element cast: a non-finite OR out-of-domain
    component becomes a NULL DECIMAL instead of a DuckDB
    ConversionException — TRY_CAST into the same decimal(13,8) width
    Spark's try_cast uses in similarity._dec. The two casts are NOT
    exact mirrors at the domain edge: in (99999.999999995, 1e5)
    Spark's try_cast overflows to NULL on half-up rounding while
    DuckDB accepts the rounded 100000.00000000 — which is why the
    element domain is |x| <= 99999.99999999 (_ELEM_BOUND, the decimal
    max, NOT < 1e5) and why this cast is always PAIRED with
    _vec_clean_sql's whole-vector domain gate: the gate keeps both
    engines inside the band where the casts agree, and without it
    list_sum would SKIP a NULL product and return a bogus partial
    dot."""
    return f"TRY_CAST(CAST({x} AS DOUBLE) AS DECIMAL(13,8))"


def _vec_clean_sql(v: str) -> str:
    """TRUE iff every component of vector `v` is present, finite, and
    inside the exact-decimal element domain (|x| <= 99999.99999999,
    the decimal(13,8) max — similarity._ELEM_BOUND) — the oracle twin
    of Spark's decimal fold, where one bad element NULLs the entire
    dot (acc + NULL stays NULL). The bound is the decimal max, not
    1e5: in (99999.999999995, 1e5) Spark's try_cast overflows to NULL
    on half-up rounding while DuckDB's DECIMAL(13,8) cast accepts the
    rounded 100000.00000000 — the one band where the engines' casts
    disagree, excluded from the domain on both sides."""
    return (
        f"COALESCE(list_bool_and(["
        f"COALESCE(CAST(x AS DOUBLE) >= CAST(-99999.99999999 AS DOUBLE)"
        f" AND CAST(x AS DOUBLE) <= CAST(99999.99999999 AS DOUBLE),"
        f" false) FOR x IN {v}]), false)"
    )


def _dot_sql(a: str, b: str) -> str:
    """Decimal-exact dot product, length-aware and finiteness-aware:
    a pair of unequal widths is NULL (Spark's zip_with NULL-pads the
    shorter side, so the whole decimal fold is NULL there), and a
    vector with ANY non-finite/NULL component is NULL too (Spark's
    fold goes NULL at that element and stays NULL; the naked DuckDB
    cast was job-fatal instead — the r9 edge-vector probe). The
    element guards stay as well so no branch can ever crash."""
    return (
        f"CASE WHEN len({a}) = len({b})"
        f" AND {_vec_clean_sql(a)} AND {_vec_clean_sql(b)} THEN"
        f" list_sum([{_fin_elem_sql(f'{a}[i]')}"
        f" * {_fin_elem_sql(f'{b}[i]')}"
        f" FOR i IN generate_series(1, len({a}))]) END"
    )


def _cos_sql(dot: str, na: str, nb: str) -> str:
    return (
        f"CAST({dot} AS DOUBLE) / (sqrt(CAST({na} AS DOUBLE))"
        f" * sqrt(CAST({nb} AS DOUBLE)))"
    )


def _minhash_sql() -> str:
    from hillview_spark.functions.dedup import MINHASH_P, _affine

    sig_cols = ", ".join(
        f"min((h * {a} + {b}) % {MINHASH_P}) AS h{i}"
        for i, (a, b) in ((i, _affine(i)) for i in range(16))
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"h{b*4}||'_'||h{b*4+1}||'_'||h{b*4+2}||'_'||h{b*4+3} AS key FROM sigs"
        for b in range(4)
    )
    return f"""
        WITH {_SHINGLES},
        hh AS (SELECT doc_id, CAST('0x'||substr(md5(s),1,7) AS BIGINT) AS h FROM sh),
        sigs AS (SELECT doc_id, {sig_cols} FROM hh GROUP BY doc_id),
        bands AS ({band_selects})
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


def _simhash_pairs_sql() -> str:
    return r"""
        WITH toks AS (SELECT doc_id,
                             unnest(list_filter(
                                 string_split_regex(trim(text), '\s+'),
                                 x -> x <> '')) AS t
                      FROM documents),
        h AS (SELECT doc_id, CAST('0x'||substr(md5(t),1,15) AS BIGINT) AS h FROM toks),
        bits AS (SELECT doc_id, j,
                        SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, UNNEST(generate_series(0, 59)) u(j) GROUP BY 1, 2),
        fp AS (SELECT doc_id,
                      CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j)
                               ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS fingerprint
               FROM bits GROUP BY 1),
        ck AS (SELECT doc_id, fingerprint, ci,
                      (fingerprint >> (ci*15)) & 32767 AS cv
               FROM fp, UNNEST([0,1,2,3]) u(ci))
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INT) AS hamming
        FROM ck a JOIN ck b
          ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3
    """


def _bucket_sql(planes: int) -> str:
    """DuckDB expression for the LSH sign-pattern bucket string,
    mirroring similarity.lsh_bucket_expr's exact decimal path."""
    from hillview_spark.functions.similarity import hyperplanes

    hp = hyperplanes(64, planes)
    bit_exprs = []
    for row in hp:
        wl = "[" + ", ".join(f"CAST({w} AS DECIMAL(12,10))" for w in row) + "]"
        dot = (
            f"list_sum([{_fin_elem_sql('embedding[i]')}"
            f" * ({wl})[i] FOR i IN generate_series(1, 64)])"
        )
        bit_exprs.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    # dim-mismatched OR non-finite vectors get a NULL bucket (they
    # drop out of the bucket equi-join), mirroring lsh_bucket_expr's
    # width + all-finite quarantine; element casts are additionally
    # guarded so no branch can throw
    return (
        f"CASE WHEN len(embedding) = 64"
        f" AND {_vec_clean_sql('embedding')}"
        f" THEN {'||'.join(bit_exprs)} END"
    )


def _ann_lsh_sql(planes: int = 4, k: int = 10) -> str:
    bucket = _bucket_sql(planes)
    dot = _dot_sql("embedding", "qv")
    cos = _cos_sql(dot, "nrm", "qn")
    return f"""
        WITH b AS (SELECT vec_id, embedding, {bucket} AS bucket,
                          {_dot_sql('embedding', 'embedding')} AS nrm
                   FROM embeddings),
        q AS (SELECT embedding AS qv, bucket AS qb, nrm AS qn FROM b WHERE vec_id = 0)
        SELECT * FROM (
          SELECT vec_id, round({cos}, 6) AS cosine
          FROM b, q WHERE bucket = qb AND vec_id <> 0)
        WHERE cosine IS NOT NULL
        ORDER BY cosine DESC, vec_id LIMIT {k}
    """


def _jl_sql() -> str:
    """Build the JL oracle with the same sin-derived sign constants
    as correlation.jl_project (k=2 over p_size, p_retailprice)."""
    import math

    k, cols = 2, ["p_size", "p_retailprice"]
    scale = 1.0 / math.sqrt(k)
    exprs = []
    for j in range(k):
        terms = ["0.0"]
        for i, c in enumerate(cols):
            s = math.sin(1.0 + j * 97 + i * 13)
            w = scale if s >= 0 else -scale
            terms.append(f"(CAST({c} AS DOUBLE) * {w!r})")
        exprs.append(f"round({' + '.join(terms)}, 6) AS jl{j}")
    return f"SELECT p_partkey, {', '.join(exprs)} FROM part"


def oracle_sql() -> dict[str, str]:
    # Naked-DECIMAL domain proof (r8 probe follow-up): dec()/revenue
    # feed ONLY the verbatim TPC-H queries, whose columns are
    # DECIMAL(15,2) by the TPC-H schema — non-finite doubles are
    # impossible in that domain, so the casts stay unguarded to keep
    # the SQL verbatim. Every key whose inputs are NOT schema-bound
    # decimals (exploration family, rollup, next_k_aggregate, col
    # stats, asof, moving_avg, computed_column) carries an explicit
    # isfinite guard on both engines; the embedding DECIMAL(10,8)
    # casts are covered by the similarity quarantine (non-finite
    # components -> NULL dot/bucket, edge-pinned).
    dec = lambda c: f"CAST({c} AS DECIMAL(18,2))"  # noqa: E731
    revenue = f"{dec('l_extendedprice')} * (1 - {dec('l_discount')})"
    fin = lambda c: f"(CASE WHEN isfinite({c}) THEN {c} END)"  # noqa: E731
    fin_revenue = (
        f"CAST({fin('l_extendedprice')} AS DECIMAL(18,2))"
        f" * (1 - CAST({fin('l_discount')} AS DECIMAL(18,2)))"
    )

    o: dict[str, str] = {}

    o["q1_pricing_summary"] = f"""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM({dec('l_quantity')}) AS DOUBLE) AS sum_qty,
          CAST(SUM({dec('l_extendedprice')}) AS DOUBLE) AS sum_base_price,
          CAST(SUM({revenue}) AS DOUBLE) AS sum_disc_price,
          CAST(SUM(({revenue}) * (1 + {dec('l_tax')})) AS DOUBLE) AS sum_charge,
          round(CAST(SUM({dec('l_quantity')}) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
          round(CAST(SUM({dec('l_extendedprice')}) AS DOUBLE) / COUNT(*), 4) AS avg_price,
          round(CAST(SUM({dec('l_discount')}) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
          COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """

    o["q3_shipping_priority"] = f"""
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               CAST(SUM({revenue}) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """

    o["q5_local_supplier"] = f"""
        SELECT n_name, CAST(SUM({revenue}) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name
    """

    o["q6_revenue_forecast"] = f"""
        SELECT CAST(SUM({dec('l_extendedprice')} * {dec('l_discount')}) AS DOUBLE)
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
    """

    o["q4_late_orders"] = """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """
    o["q10_returned_items"] = f"""
        SELECT c_custkey, c_name, CAST(SUM({revenue}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
    """
    o["q14_promo_revenue"] = f"""
        SELECT round(
          CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {revenue}
                        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
          * 100.0 / CAST(SUM({revenue}) AS DOUBLE), 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """

    o["q7_volume_shipping"] = f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INT) AS l_year,
               CAST(SUM({revenue}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          AND n2.n_name IN ('NATION_1', 'NATION_2')
          AND n1.n_name <> n2.n_name
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """
    o["q15_top_supplier"] = f"""
        WITH rev AS (
            SELECT l_suppkey, SUM({revenue}) AS total_rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1)
        SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
        ORDER BY s_suppkey
    """
    o["q18_large_orders"] = f"""
        WITH big AS (
            SELECT l_orderkey, SUM({dec('l_quantity')}) AS sum_qty
            FROM lineitem GROUP BY 1
            HAVING SUM({dec('l_quantity')}) > 180)
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               CAST(sum_qty AS DOUBLE) AS sum_qty
        FROM orders
        JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100
    """
    o["q19_discounted_revenue"] = f"""
        SELECT CAST(SUM({revenue}) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#22' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 35)
           OR (p_brand = 'Brand#6' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 50)
    """
    o["q22_sales_opportunity"] = f"""
        WITH avg_bal AS (
            SELECT CAST(SUM({dec('c_acctbal')}) AS DOUBLE) / COUNT(*) AS v
            FROM customer WHERE c_acctbal > 0)
        SELECT c_nationkey, COUNT(*) AS numcust,
               CAST(SUM({dec('c_acctbal')}) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (SELECT v FROM avg_bal)
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY 1 ORDER BY 1
    """

    o["q2_min_cost_supplier"] = f"""
        WITH offers AS (
            SELECT p_partkey, p_type, s_suppkey, s_name, s_acctbal, n_name,
                   {dec('l_extendedprice')} AS cost
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
              AND r_name = 'EUROPE'),
        mc AS (SELECT p_partkey AS mc_partkey, MIN(cost) AS min_cost
               FROM offers GROUP BY 1)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
               CAST(min_cost AS DOUBLE) AS min_cost
        FROM offers JOIN mc ON p_partkey = mc_partkey AND cost = min_cost
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """
    o["q8_market_share"] = f"""
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               round(
                 CAST(SUM(CASE WHEN n1.n_name = 'NATION_2' THEN {revenue}
                          ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM({revenue}) AS DOUBLE), 6) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1 ORDER BY 1
    """
    o["q9_product_type_profit"] = """
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(
                 CAST(l_extendedprice AS DECIMAL(12,2))
                   * (1 - CAST(l_discount AS DECIMAL(12,2)))
                 - CAST(p_retailprice AS DECIMAL(12,2))
                   * CAST(0.6 AS DECIMAL(2,1))
                   * CAST(l_quantity AS DECIMAL(12,2))
               ) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE 'small%'
        GROUP BY 1, 2 ORDER BY nation, o_year DESC
    """
    o["q11_important_parts"] = f"""
        WITH per_part AS (
            SELECT l_partkey, SUM({revenue}) AS value_dec
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY 1)
        SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
        FROM per_part
        WHERE CAST(value_dec AS DOUBLE) >
              (SELECT CAST(SUM(value_dec) AS DOUBLE) FROM per_part)
              * CAST(0.001 AS DOUBLE)
        ORDER BY part_value DESC, l_partkey
    """
    o["q12_shipmode_priority"] = """
        SELECT l_returnflag,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                   THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                   THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY 1 ORDER BY 1
    """
    o["q13_customer_order_distribution"] = """
        WITH per_cust AS (
            SELECT c_custkey, COUNT(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders ON c_custkey = o_custkey
                 AND o_orderpriority <> '1-URGENT'
            GROUP BY 1)
        SELECT c_count, COUNT(*) AS custdist
        FROM per_cust GROUP BY 1
        ORDER BY custdist DESC, c_count DESC
    """
    o["q16_supplier_part_counts"] = """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#11'
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 50
    """
    o["q17_small_quantity_revenue"] = f"""
        WITH li AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#13'),
        aq AS (
            SELECT l_partkey AS aq_partkey,
                   CAST(SUM({dec('l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty
            FROM li GROUP BY 1)
        SELECT CAST(SUM({dec('l_extendedprice')}) AS DOUBLE) / 7.0 AS avg_yearly
        FROM li JOIN aq ON l_partkey = aq_partkey
        WHERE l_quantity < CAST(0.2 AS DOUBLE) * avg_qty
    """
    o["q20_part_promotion"] = f"""
        WITH li AS (
            SELECT l_partkey, l_suppkey, l_quantity
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'small%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'),
        per_sp AS (
            SELECT l_partkey, l_suppkey,
                   CAST(SUM({dec('l_quantity')}) AS DOUBLE) AS supp_qty
            FROM li GROUP BY 1, 2),
        per_part AS (
            SELECT l_partkey AS pp_partkey,
                   CAST(SUM(CAST(supp_qty AS DECIMAL(28,2))) AS DOUBLE)
                   AS part_qty
            FROM per_sp GROUP BY 1)
        SELECT s_suppkey, s_name FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM per_sp
            JOIN per_part ON l_partkey = pp_partkey
            WHERE supp_qty > part_qty * CAST(0.3 AS DOUBLE))
        ORDER BY s_suppkey
    """
    o["q21_suppliers_kept_waiting"] = """
        WITH li AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate + INTERVAL 60 DAY AS is_late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderstatus = 'F'),
        per_order AS (
            SELECT l_orderkey,
                   COUNT(DISTINCT l_suppkey) AS n_supp,
                   COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END)
                     AS n_late,
                   MIN(CASE WHEN is_late THEN l_suppkey END) AS late_supp
            FROM li GROUP BY 1)
        SELECT s_name, COUNT(*) AS numwait
        FROM per_order JOIN supplier ON late_supp = s_suppkey
        WHERE n_supp > 1 AND n_late = 1
        GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 100
    """

    def hist1d(col: str, table: str, nb: int) -> str:
        # present = FINITE (isfinite(NULL) is NULL -> WHERE drops it),
        # matching histogram._finite: NaN/±Inf are missing and never
        # poison the range
        return f"""
        WITH rng AS (SELECT min(CASE WHEN isfinite({col}) THEN {col} END) mn,
                            max(CASE WHEN isfinite({col}) THEN {col} END) mx
                     FROM {table}),
        counted AS (
          SELECT CAST(least(greatest(CAST(floor(({col} - mn) / ((mx - mn) / {nb}.0))
                 AS BIGINT), 0), {nb - 1}) AS INT) AS bucket, COUNT(*) AS cnt
          FROM {table}, rng WHERE isfinite({col}) GROUP BY 1)
        SELECT CAST(s.i AS INT) AS bucket, COALESCE(c.cnt, 0) AS cnt
        FROM generate_series(0, {nb - 1}) s(i)
        LEFT JOIN counted c ON c.bucket = s.i
        """

    o["histogram1d_numeric"] = hist1d("l_extendedprice", "lineitem", 40)
    o["progressive_histogram"] = f"""
        SELECT CAST(1 AS INT) AS stage, CAST(1.0 AS DOUBLE) AS fraction,
               bucket, cnt, CAST(cnt AS DOUBLE) AS est_cnt
        FROM ({hist1d('l_extendedprice', 'lineitem', 40)})
    """
    o["cdf_numeric"] = f"""
        SELECT bucket, CAST(SUM(cnt) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
        FROM ({hist1d('l_extendedprice', 'lineitem', 100)})
    """

    o["histogram2d_heatmap"] = """
        WITH rng AS (SELECT min(CASE WHEN isfinite(l_quantity) THEN l_quantity END) xmn,
                            max(CASE WHEN isfinite(l_quantity) THEN l_quantity END) xmx,
                            min(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) ymn,
                            max(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) ymx
                     FROM lineitem)
        SELECT
          CAST(least(greatest(CAST(floor((l_quantity - xmn) / ((xmx - xmn) / 10.0))
               AS BIGINT), 0), 9) AS INT) AS xbucket,
          CAST(least(greatest(CAST(floor((l_extendedprice - ymn) / ((ymx - ymn) / 10.0))
               AS BIGINT), 0), 9) AS INT) AS ybucket,
          COUNT(*) AS cnt
        FROM lineitem, rng
        WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
        GROUP BY 1, 2
    """

    o["histogram3d_trellis"] = """
        WITH rng AS (SELECT min(CASE WHEN isfinite(l_quantity) THEN l_quantity END) q_mn,
                            max(CASE WHEN isfinite(l_quantity) THEN l_quantity END) q_mx,
                            min(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) e_mn,
                            max(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) e_mx
                     FROM lineitem)
        SELECT l_returnflag AS l_returnflag_bucket,
          CAST(least(greatest(CAST(floor((l_quantity - q_mn) / ((q_mx - q_mn) / 5.0))
               AS BIGINT), 0), 4) AS INT) AS l_quantity_bucket,
          CAST(least(greatest(CAST(floor((l_extendedprice - e_mn) / ((e_mx - e_mn) / 5.0))
               AS BIGINT), 0), 4) AS INT) AS l_extendedprice_bucket,
          COUNT(*) AS cnt
        FROM lineitem, rng
        WHERE l_returnflag IS NOT NULL
          AND isfinite(l_quantity) AND isfinite(l_extendedprice)
        GROUP BY 1, 2, 3
    """

    o["histogram_string"] = """
        SELECT o_orderpriority AS value, COUNT(*) AS cnt
        FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1
    """

    o["histogram_string_bounded"] = """
        SELECT CAST(len([b FOR b IN ['1','3','5'] IF b <= o_orderpriority]) - 1
               AS INT) AS bucket, COUNT(*) AS cnt
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderpriority >= '1'
        GROUP BY 1
    """

    o["histogram4d_trellis"] = """
        WITH rng AS (SELECT min(CASE WHEN isfinite(l_quantity) THEN l_quantity END) q_mn,
                            max(CASE WHEN isfinite(l_quantity) THEN l_quantity END) q_mx,
                            min(CASE WHEN isfinite(l_discount) THEN l_discount END) d_mn,
                            max(CASE WHEN isfinite(l_discount) THEN l_discount END) d_mx
                     FROM lineitem)
        SELECT l_returnflag AS l_returnflag_bucket,
               l_linestatus AS l_linestatus_bucket,
          CAST(least(greatest(CAST(floor((l_quantity - q_mn) / ((q_mx - q_mn) / 4.0))
               AS BIGINT), 0), 3) AS INT) AS l_quantity_bucket,
          CAST(least(greatest(CAST(floor((l_discount - d_mn) / ((d_mx - d_mn) / 4.0))
               AS BIGINT), 0), 3) AS INT) AS l_discount_bucket,
          COUNT(*) AS cnt
        FROM lineitem, rng
        WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
          AND isfinite(l_quantity) AND isfinite(l_discount)
        GROUP BY 1, 2, 3, 4
    """

    o["histogram_date_month"] = """
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS bucket_start,
               COUNT(*) AS cnt
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    """

    o["data_range"] = """
        SELECT min(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS min_val,
               max(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS max_val,
               count(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END) AS present_count,
               CAST(COALESCE(SUM(CASE WHEN COALESCE(isfinite(l_extendedprice), false)
                             THEN 0 ELSE 1 END), 0) AS BIGINT) AS missing_count
        FROM lineitem
    """

    o["data_range_interval"] = """
        WITH v AS (SELECT l_quantity, l_extendedprice,
                          COALESCE(isfinite(l_quantity), false)
                            AND COALESCE(isfinite(l_extendedprice), false)
                            AS ok
                   FROM lineitem)
        SELECT min(CASE WHEN ok THEN l_quantity END) AS min_start,
               max(CASE WHEN ok THEN l_extendedprice END) AS max_end,
               CAST(COALESCE(SUM(CASE WHEN ok THEN 1 ELSE 0 END), 0)
                 AS BIGINT) AS present_count,
               CAST(COALESCE(SUM(CASE WHEN ok THEN 0 ELSE 1 END), 0)
                 AS BIGINT) AS missing_count
        FROM v
    """
    o["histogram_with_cdf"] = f"""
        SELECT bucket, cnt, CAST(SUM(cnt) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
        FROM ({hist1d('l_extendedprice', 'lineitem', 50)})
    """

    o["histogram_quantiles"] = """
        WITH rng AS (SELECT min(CASE WHEN isfinite(l_quantity) THEN l_quantity END) mn,
                            max(CASE WHEN isfinite(l_quantity) THEN l_quantity END) mx
                     FROM lineitem)
        SELECT
          CAST(least(greatest(CAST(floor((l_quantity - mn) / ((mx - mn) / 8.0))
               AS BIGINT), 0), 7) AS INT) AS bucket,
          COUNT(*) AS cnt,
          round(quantile_cont(l_extendedprice, 0.25), 4) AS q25,
          round(quantile_cont(l_extendedprice, 0.5), 4) AS q50,
          round(quantile_cont(l_extendedprice, 0.75), 4) AS q75
        FROM lineitem, rng
        WHERE isfinite(l_quantity) AND isfinite(l_extendedprice)
        GROUP BY 1
    """

    o["string_quantiles"] = """
        WITH d AS (SELECT DISTINCT c_name AS value FROM customer
                   WHERE c_name IS NOT NULL),
        r AS (SELECT value, row_number() OVER (ORDER BY value) - 1 AS rnk,
                     count(*) OVER () AS n
              FROM d)
        SELECT CAST((rnk * 8) // n AS INT) AS bucket, min(value) AS boundary
        FROM r GROUP BY 1
    """

    o["num_items_threshold"] = """
        SELECT count(DISTINCT p_type) >= 100 AS above_threshold FROM part
    """

    o["quantiles_price"] = """
        SELECT round(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.1), 4) AS q10,
               round(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.25), 4) AS q25,
               round(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.5), 4) AS q50,
               round(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.75), 4) AS q75,
               round(quantile_cont(CASE WHEN isfinite(l_extendedprice) THEN l_extendedprice END, 0.9), 4) AS q90
        FROM lineitem
    """

    def colstat(c: str) -> str:
        # present = FINITE (stats.basic_col_stats rule): NaN/±Inf are
        # missing and excluded from every moment
        v = f"(CASE WHEN isfinite({c}) THEN {c} END)"
        dec4 = f"CAST({v} AS DECIMAL(12,4))"
        # DECIMAL(20,*) operands force DuckDB onto int128 storage so
        # the square of a 12-digit decimal cannot overflow.
        sq = f"CAST({v} AS DECIMAL(20,4)) * CAST({v} AS DECIMAL(20,4))"
        return f"""
        SELECT '{c}' AS col_name, count({v}) AS present_count,
          CAST(COALESCE(SUM(CASE WHEN COALESCE(isfinite({c}), false)
                                  THEN 0 ELSE 1 END), 0)
               AS BIGINT) AS missing_count,
          round(CAST(min({v}) AS DOUBLE), 4) AS min_val,
          round(CAST(max({v}) AS DOUBLE), 4) AS max_val,
          CAST(SUM({dec4}) AS DOUBLE) AS sum_val,
          round(CAST(SUM({dec4}) AS DOUBLE) / count({v}), 6) AS mean_val,
          CASE WHEN count({v}) > 1 THEN
            round(sqrt(GREATEST((CAST(SUM({sq}) AS DOUBLE)
              - CAST(SUM({dec4}) AS DOUBLE) * CAST(SUM({dec4}) AS DOUBLE)
                / count({v})) / (count({v}) - 1), 0.0)), 4)
          END AS stddev_val
        FROM lineitem
        """

    o["basic_col_stats"] = " UNION ALL ".join(
        colstat(c) for c in ["l_quantity", "l_extendedprice", "l_discount"]
    )

    o["distinct_count"] = (
        "SELECT count(DISTINCT l_partkey) AS distinct_count FROM lineitem"
    )
    o["distinct_values"] = """
        SELECT DISTINCT lang AS value FROM documents WHERE lang IS NOT NULL
        ORDER BY value LIMIT 1000
    """
    o["table_summary"] = """
        SELECT col_name, col_type, (SELECT count(*) FROM orders) AS row_count
        FROM (VALUES ('o_orderkey','bigint'), ('o_custkey','bigint'),
                     ('o_orderstatus','string'), ('o_totalprice','double'),
                     ('o_orderdate','timestamp_ntz'), ('o_orderpriority','string'))
             t(col_name, col_type)
    """

    def profcol(c: str) -> str:
        return f"""
        SELECT '{c}' AS col_name, count({c}) AS present_count,
          CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS missing_count,
          count(DISTINCT {c}) AS distinct_count
        FROM orders
        """

    o["table_profile"] = " UNION ALL ".join(
        profcol(c)
        for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]
    )

    # Reference record order: missing sorts LAST ascending
    # (IDoubleColumn.java:70-78) — explicit NULLS LAST, and the paging
    # predicate carries IS NULL terms so the NULL group pages correctly.
    o["next_k_rows"] = """
        SELECT l_returnflag, l_linestatus, l_quantity, COUNT(*) AS cnt
        FROM lineitem GROUP BY 1, 2, 3
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST,
                 l_quantity NULLS LAST LIMIT 20
    """
    # INCLUSIVE anchor (NextKSketch.java:100-103, compareTo <= 0):
    # the start row's own group is the first row of the page
    o["next_k_after"] = """
        SELECT l_returnflag, l_linestatus, l_quantity, COUNT(*) AS cnt
        FROM lineitem
        WHERE (l_returnflag > 'N' OR l_returnflag IS NULL)
           OR (l_returnflag = 'N'
               AND (l_linestatus > 'O' OR l_linestatus IS NULL))
           OR (l_returnflag = 'N' AND l_linestatus = 'O'
               AND (l_quantity >= 10.0 OR l_quantity IS NULL))
        GROUP BY 1, 2, 3
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST,
                 l_quantity NULLS LAST LIMIT 20
    """
    # start_position = rows strictly BEFORE the anchor in the record
    # order (missing-last: NULL keys are never before a value);
    # rows_scanned = total rows (NextKList.java:40-48)
    # stats LEFT JOIN page (ADVICE r8): an empty page still reports
    # start_position/rows_scanned on ONE all-NULL page row, like the
    # reference NextKList's empty rows table
    o["next_k_list"] = """
        WITH page AS (
          SELECT l_returnflag, l_linestatus, l_quantity, COUNT(*) AS cnt
          FROM lineitem
          WHERE (l_returnflag > 'N' OR l_returnflag IS NULL)
             OR (l_returnflag = 'N'
                 AND (l_linestatus > 'O' OR l_linestatus IS NULL))
             OR (l_returnflag = 'N' AND l_linestatus = 'O'
                 AND (l_quantity >= 10.0 OR l_quantity IS NULL))
          GROUP BY 1, 2, 3
          ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST,
                   l_quantity NULLS LAST LIMIT 20),
        stats AS (
          SELECT (SELECT COUNT(*) FROM lineitem
                  WHERE (l_returnflag < 'N')
                     OR (l_returnflag = 'N' AND l_linestatus < 'O')
                     OR (l_returnflag = 'N' AND l_linestatus = 'O'
                         AND l_quantity < 10.0)) AS start_position,
                 (SELECT COUNT(*) FROM lineitem) AS rows_scanned)
        SELECT p.l_returnflag, p.l_linestatus, p.l_quantity, p.cnt,
               s.start_position, s.rows_scanned
        FROM stats s LEFT JOIN page p ON true
    """
    o["next_k_aggregate"] = """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
          CAST(SUM(CAST(CASE WHEN isfinite(l_quantity) THEN l_quantity END
                        AS DECIMAL(28,4))) AS DOUBLE) AS sum_l_quantity,
          round(CAST(SUM(CAST(CASE WHEN isfinite(l_extendedprice)
                                   THEN l_extendedprice END
                              AS DECIMAL(28,4))) AS DOUBLE)
                / COUNT(CASE WHEN isfinite(l_extendedprice)
                             THEN l_extendedprice END), 6)
            AS avg_l_extendedprice,
          max(CASE WHEN isfinite(l_discount) THEN l_discount END)
            AS max_l_discount
        FROM lineitem GROUP BY 1, 2
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST LIMIT 10
    """
    # FindSketch Result: before = matches strictly before the anchor
    # in the record order; at = matches equal (on the sort schema) to
    # the first match at-or-after it; after = the rest of the
    # candidates (FindSketch.java:147-201)
    # NULL-key matches mirror the operator's missing-sorts-last rule
    # (ADVICE r8): a NULL doc_id sorts AFTER every value, so it is a
    # CANDIDATE (at-or-after any anchor), never 'before'; min() skips
    # NULLs, giving the first non-NULL candidate — or NULL when every
    # candidate key is missing, in which case the NULL-key rows ARE
    # the first match ('at' via IS NOT DISTINCT FROM)
    o["find_first_row"] = """
        WITH m AS (SELECT doc_id FROM documents
                   WHERE contains(lower(text), 'spark merge')),
        c AS (SELECT doc_id FROM m
              WHERE doc_id >= 100 OR doc_id IS NULL),
        f AS (SELECT min(doc_id) AS first_doc_id FROM c)
        SELECT (SELECT COUNT(*) FROM m WHERE doc_id < 100) AS before,
               (SELECT COUNT(*) FROM c, f
                WHERE c.doc_id IS NOT DISTINCT FROM f.first_doc_id) AS at,
               (SELECT COUNT(*) FROM c, f
                WHERE NOT (c.doc_id IS NOT DISTINCT FROM f.first_doc_id))
                 AS after,
               f.first_doc_id
        FROM f
    """
    o["find_substring"] = """
        SELECT COUNT(*) AS match_count FROM documents
        WHERE contains(lower(text), 'spark merge')
    """

    o["heavy_hitters"] = """
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
        HAVING COUNT(*) >= 0.13 * (SELECT COUNT(*) FROM documents)
        ORDER BY cnt DESC, lang
    """
    o["progressive_heavy_hitters"] = """
        SELECT CAST(1 AS INT) AS stage, CAST(1.0 AS DOUBLE) AS fraction,
               lang, COUNT(*) AS cnt, CAST(COUNT(*) AS DOUBLE) AS est_cnt
        FROM documents GROUP BY lang
        HAVING COUNT(*) >= 0.13 * (SELECT COUNT(*) FROM documents)
        ORDER BY cnt DESC, lang
    """
    # one row per CANDIDATE, zeros included (ExactFreqSketch.zero/add
    # carry the full candidate list — r10): left join from the
    # literal candidate list, count 0 when absent
    o["exact_freq"] = """
        WITH cand(value) AS (VALUES ('click'), ('view'), ('error')),
        counts AS (
            SELECT event_type AS value, COUNT(*) AS cnt FROM events
            WHERE event_type IN ('click', 'view', 'error') GROUP BY 1)
        SELECT cand.value, COALESCE(counts.cnt, 0) AS cnt
        FROM cand LEFT JOIN counts ON cand.value = counts.value
        ORDER BY cnt DESC, cand.value
    """

    o["range_filter"] = """
        SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <= TIMESTAMP '1996-12-31'
          AND l_quantity >= 10 AND l_quantity <= 20
    """
    o["string_filter_regex"] = r"""
        SELECT doc_id FROM documents WHERE regexp_matches(text, 'agg\s+(join|merge)')
    """
    o["project_columns"] = "SELECT p_partkey, p_brand, p_retailprice FROM part"
    o["convert_column"] = (
        "SELECT o_orderkey, CAST(o_custkey AS VARCHAR) AS cust_str FROM orders"
    )
    o["computed_column"] = f"""
        SELECT l_orderkey, l_linenumber, CAST({fin_revenue} AS DOUBLE) AS revenue
        FROM lineitem
    """
    o["interval_column"] = """
        SELECT l_orderkey, l_linenumber, l_quantity AS iv_start,
               l_extendedprice AS iv_end
        FROM lineitem
    """
    o["extract_json_value"] = """
        SELECT event_id,
               -- malformed JSON extracts NULL (missing on parse
               -- failure, like Spark's get_json_object) instead of
               -- crashing the whole query on one bad document
               CASE WHEN json_valid(props)
                    THEN json_extract_string(props, '$.k') END AS k_value
        FROM events
    """
    o["set_operation"] = """
        SELECT doc_id FROM documents WHERE contains(text, 'spark')
        INTERSECT
        SELECT doc_id FROM documents WHERE contains(text, 'merge')
    """

    o["systematic_sample"] = """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE l_orderkey % 100 = 0
    """

    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    # pairwise-finite deletion, mirroring corr_matrix: only rows
    # finite in BOTH columns enter a pair's moments
    pair_rows = " UNION ALL ".join(
        f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
        f"round(corr(CASE WHEN isfinite({a}) AND isfinite({b}) THEN {a} END, "
        f"CASE WHEN isfinite({a}) AND isfinite({b}) THEN {b} END), 4) AS corr "
        f"FROM lineitem"
        for i, a in enumerate(cols)
        for b in cols[i:]
    )
    o["corr_matrix"] = pair_rows

    # Portable-Bernoulli twins (operators/sampling.portable_bernoulli):
    # keep iff first-7-hex of md5(length-prefixed key fields
    # '_'-joined || '_bern42') < fraction * 16^7 — the same subset in
    # any engine. Fields are '<len>:<value>' (r7) so distinct
    # composite keys can never alias on one coin even with '_' in
    # string values.
    def _bern_sql(key_exprs: list[str], fraction: float, seed: int = 42) -> str:
        key = " || '_' || ".join(
            f"(CAST(LENGTH(CAST({k} AS VARCHAR)) AS VARCHAR)"
            f" || ':' || CAST({k} AS VARCHAR))"
            for k in key_exprs
        )
        cut = int(fraction * 16**7)
        return (
            f"CAST(('0x' || substr(md5({key} || '_bern{seed}'), 1, 7))"
            f" AS BIGINT) < {cut}"
        )

    _li_coin_half = _bern_sql(["l_orderkey", "l_linenumber"], 0.5)
    o["corr_matrix_sampled"] = " UNION ALL ".join(
        f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
        f"round(corr(CASE WHEN isfinite({a}) AND isfinite({b}) THEN {a} END, "
        f"CASE WHEN isfinite({a}) AND isfinite({b}) THEN {b} END), 4) AS corr "
        f"FROM lineitem WHERE {_li_coin_half}"
        for i, a in enumerate(["l_quantity", "l_extendedprice", "l_discount"])
        for b in ["l_quantity", "l_extendedprice", "l_discount"][i:]
    )

    # full replay of the two-scan sampled sketch: portable-coin sample
    # -> sample-internal candidate threshold (0.5 * eps * sampled
    # rows) -> exact confirmation counts at eps * N
    _li_coin_hh = _bern_sql(["l_orderkey", "l_linenumber"], 0.01)
    o["heavy_hitters_sampled"] = f"""
        WITH sampled AS (
            SELECT l_returnflag FROM lineitem WHERE {_li_coin_hh}
        ), st AS (SELECT COUNT(*) AS st FROM sampled),
        cand AS (
            SELECT l_returnflag FROM sampled, st
            GROUP BY l_returnflag, st
            HAVING COUNT(*) >= 0.5 * 0.2 * st
        ), n AS (SELECT COUNT(*) AS n FROM lineitem)
        SELECT l_returnflag, COUNT(*) AS cnt
        FROM lineitem, n
        WHERE l_returnflag IN (SELECT l_returnflag FROM cand)
        GROUP BY l_returnflag, n
        HAVING COUNT(*) >= 0.2 * n
    """

    # exact at gate SF: rank error eps*n = n/1e6 < 1, and Spark's
    # returned element convention equals DuckDB's quantile_disc
    # (verified sf0.001 + sf0.01)
    o["quantiles_approx"] = """
        WITH q AS (SELECT quantile_disc(CASE WHEN isfinite(l_extendedprice)
                            THEN l_extendedprice END,
                       [0.25, 0.5, 0.75]) AS qs FROM lineitem)
        SELECT CAST(u.i - 1 AS INT) AS idx, qs[u.i] AS value
        FROM q, UNNEST(generate_series(1, 3)) u(i)
    """

    o["category_centroids"] = """
        SELECT event_type AS category, round(avg(CASE WHEN isfinite(value) THEN value END), 4) AS value_mean
        FROM events GROUP BY 1
    """
    o["jl_project"] = _jl_sql()

    _syslog_pat = (
        r"^(\w{3}\s+\d+\s+\d{2}:\d{2}:\d{2})\s+(\S+)\s+"
        r"([^:\[]+)(?:\[(\d+)\])?:\s*(.*)$"
    )
    o["logs_parse_syslog"] = f"""
        WITH lines AS (
            SELECT 'Jan  2 03:04:05 host' || CAST(user_id AS VARCHAR)
                || ' ' || event_type || '[' || CAST(event_id AS VARCHAR)
                || ']: seen user ' || CAST(user_id AS VARCHAR) AS line
            FROM events)
        SELECT line AS raw_line,
               NOT regexp_matches(line, '{_syslog_pat}') AS parse_error,
               -- missing = NULL uniformly (r10): '' extractions (an
               -- unparsed line's groups, an absent optional group)
               -- are NULL on both engines, mirroring dissect_lines
               NULLIF(regexp_extract(line, '{_syslog_pat}', 2), '') AS host,
               NULLIF(regexp_extract(line, '{_syslog_pat}', 3), '') AS proc,
               CAST(NULLIF(regexp_extract(line, '{_syslog_pat}', 4), '')
                    AS BIGINT) AS pid,
               NULLIF(regexp_extract(line, '{_syslog_pat}', 5), '') AS message
        FROM lines
    """

    # DP histograms: the oracle
    # embeds only the DATA-INDEPENDENT k-adic node COORDINATES of
    # each bucket's interval — the noise itself (PRF draw, inverse
    # CDF, ordered sum) is re-derived inside DuckDB by
    # _kadic_spine_sql, so a noise bug in the engine would surface
    # as a hash mismatch instead of being copied into the oracle.
    # The data-dependent exact counts are recomputed independently
    # from parquet with the same quantization arithmetic.
    from hillview_spark.operators import privacy as _priv
    import math as _math

    def _dp_hist_sql(cdf: bool) -> str:
        leaves, buckets, scale = 50, 10, _priv.noise_scale(1.0, 50)
        cells = []
        for i, (l, r) in enumerate(_priv._bucket_leaf_ranges(leaves, buckets)):
            nl, nr = (0, r) if cdf else (l, r)
            nodes = [
                f"{a}:{s}" for a, s in _priv.kadic_decomposition(nl, nr)
            ]
            cells.append(((i, repr(float(1.0 + l))), nodes))
        spine = _kadic_spine_sql(
            ["bucket", "left_edge"], cells, seed=7, ci=0, scale=scale
        )
        cnt = (
            "SUM(COALESCE(c.cnt, 0)) OVER (ORDER BY n.bucket)"
            if cdf
            else "COALESCE(c.cnt, 0)"
        )
        noisy = "noisy_raw"
        if cdf:
            noisy = "MAX(noisy_raw) OVER (ORDER BY bucket)"
        return f"""
        WITH {spine}, counts AS (
            -- out-of-range EXCLUDED, not clamped (reference
            -- bucketIndex -1 / GroupBy guard); [lo, hi) half-open
            SELECT CAST((CAST(LEAST(GREATEST(FLOOR(
                       (CAST(l_quantity AS DOUBLE) - 1.0) / 1.0), 0), 49)
                       AS BIGINT) * 10) // 50 AS INT) AS bucket,
                   COUNT(*) AS cnt
            FROM lineitem WHERE isfinite(l_quantity)
              AND l_quantity >= 1.0 AND l_quantity < 51.0
            GROUP BY 1
        ), joined AS (
            SELECT n.bucket, CAST(n.left_edge AS DOUBLE) AS left_edge,
                   CAST(FLOOR(CAST({cnt} AS DOUBLE)
                        + CAST(n.noise AS DOUBLE) + 0.5) AS BIGINT)
                       AS noisy_raw,
                   n.n_intervals, CAST(n.variance AS DOUBLE) AS variance
            FROM noise n LEFT JOIN counts c ON n.bucket = c.bucket)
        SELECT bucket, left_edge, {noisy} AS noisy_count,
               n_intervals, variance
        FROM joined ORDER BY bucket
        """

    o["dp_histogram_quantity"] = _dp_hist_sql(cdf=False)
    o["dp_cdf_quantity"] = _dp_hist_sql(cdf=True)

    # every prob gets a row; unsatisfiable probs (negative noisy
    # total) fall back to the last bucket edge — mirrors the r10
    # dp_quantiles fallback
    o["dp_quantiles_quantity"] = f"""
        WITH cdf AS ({_dp_hist_sql(cdf=True)}),
        t AS (SELECT MAX(noisy_count) AS t FROM cdf),
        probs(prob) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                               (CAST(0.75 AS DOUBLE)), (CAST(0.95 AS DOUBLE))),
        hit AS (
            SELECT prob, MIN(left_edge) AS value
            FROM cdf, t, probs
            WHERE CAST(noisy_count AS DOUBLE) >= prob * CAST(t AS DOUBLE)
            GROUP BY prob),
        fb AS (SELECT MAX(left_edge) AS fbv FROM cdf)
        SELECT probs.prob, COALESCE(hit.value, fb.fbv) AS value
        FROM probs LEFT JOIN hit ON probs.prob = hit.prob, fb
        ORDER BY probs.prob
    """

    def _dp_heatmap_sql() -> str:
        xleaves, xbuckets = 50, 5
        yleaves = _math.ceil((0.11 - 0.0) / 0.01)
        ybuckets = 4
        scale = _priv.noise_scale(1.0, xleaves, yleaves)
        cells = []
        for i, (xl, xr) in enumerate(_priv._bucket_leaf_ranges(xleaves, xbuckets)):
            xnodes = _priv.kadic_decomposition(xl, xr)
            for j, (yl, yr) in enumerate(_priv._bucket_leaf_ranges(yleaves, ybuckets)):
                ynodes = _priv.kadic_decomposition(yl, yr)
                # one draw per NODE PAIR, in the engine's loop
                # order; the '-1:ciy|' prefix is the r10 injective
                # pair-identity segment (privacy.dp_heatmap) — here
                # both default indexes are 0
                pairs = [
                    f"-1:0|{xa}:{xs}|{ya}:{ys}"
                    for xa, xs in xnodes
                    for ya, ys in ynodes
                ]
                cells.append(((i, j), pairs))
        spine = _kadic_spine_sql(
            ["xbucket", "ybucket"], cells, seed=7, ci=0, scale=scale
        )
        return f"""
        WITH {spine}, counts AS (
            SELECT CAST((CAST(LEAST(GREATEST(FLOOR(
                       (CAST(l_quantity AS DOUBLE) - 1.0) / 1.0), 0),
                       {xleaves - 1}) AS BIGINT) * {xbuckets}) // {xleaves}
                       AS INT) AS xbucket,
                   CAST((CAST(LEAST(GREATEST(FLOOR(
                       (CAST(l_discount AS DOUBLE) - 0.0) / 0.01), 0),
                       {yleaves - 1}) AS BIGINT) * {ybuckets}) // {yleaves}
                       AS INT) AS ybucket,
                   COUNT(*) AS cnt
            FROM lineitem
            WHERE isfinite(l_quantity) AND isfinite(l_discount)
              -- out-of-range EXCLUDED per axis (reference rule)
              AND l_quantity >= 1.0 AND l_quantity < 51.0
              AND l_discount >= 0.0 AND l_discount < 0.11
            GROUP BY 1, 2)
        SELECT n.xbucket, n.ybucket,
               CAST(FLOOR(CAST(COALESCE(c.cnt, 0) AS DOUBLE)
                    + CAST(n.noise AS DOUBLE) + 0.5) AS BIGINT) AS noisy_count,
               n.n_intervals, CAST(n.variance AS DOUBLE) AS variance
        FROM noise n LEFT JOIN counts c
          ON n.xbucket = c.xbucket AND n.ybucket = c.ybucket
        ORDER BY n.xbucket, n.ybucket
        """

    o["dp_heatmap_qty_discount"] = _dp_heatmap_sql()

    def _dp_session_heatmap_sql() -> str:
        """Replay of the composed private session (quantize -> range
        filter -> noisy heatmap): the lineage seed and folded column
        index come from the SAME library code the session uses
        (api.effective_seed / range_filter_desc + the schema
        constants); the node-pair spine embeds only node COORDINATES
        — every draw is re-derived in SQL by _kadic_spine_sql — and
        the quantize/filter/bucket arithmetic is replayed op-for-op
        (the y re-bucketing of the quantized value must run the
        IDENTICAL double expression in both engines)."""
        from hillview_spark import api as _api

        schema = _dp_session_schema()
        col, lo, hi = _DP_SESSION_FILTER
        seed_eff = _api.effective_seed(
            _DP_SESSION_SEED, (_api.range_filter_desc(col, lo, hi),)
        )
        idx = {c: i for i, c in enumerate(sorted(schema.quantization))}
        # r10: the x index is the PRF ci verbatim; the y index rides
        # the injective '-1:ciy|' sentinel segment (the old
        # *1_000_003 fold collided — privacy.dp_heatmap docstring)
        ci = idx["l_quantity"]
        ciy = idx["l_discount"]
        xleaves, xb, yleaves, yb = 50, 5, 11, 4
        scale = _priv.noise_scale(
            schema.epsilon("l_quantity", "l_discount"), xleaves, yleaves
        )
        cells = []
        for i, (xl, xr) in enumerate(_priv._bucket_leaf_ranges(xleaves, xb)):
            xnodes = _priv.kadic_decomposition(xl, xr)
            for j, (yl, yr) in enumerate(_priv._bucket_leaf_ranges(yleaves, yb)):
                ynodes = _priv.kadic_decomposition(yl, yr)
                pairs = [
                    f"-1:{ciy}|{xa}:{xs}|{ya}:{ys}"
                    for xa, xs in xnodes
                    for ya, ys in ynodes
                ]
                cells.append(((i, j), pairs))
        spine = _kadic_spine_sql(
            ["xbucket", "ybucket"], cells, seed=seed_eff, ci=ci, scale=scale
        )
        return f"""
        WITH {spine}, quant AS (
            -- roundDown semantics: below the grid min -> missing
            -- (row dropped), >= grid max -> the max itself (whose
            -- leaf index == leaves, excluded by the bucketing range
            -- below, as the reference's GroupBy guard drops it)
            SELECT CASE WHEN CAST(l_quantity AS DOUBLE) >= 51.0 THEN 51.0
                        ELSE 1.0 + GREATEST(FLOOR(
                            (CAST(l_quantity AS DOUBLE) - 1.0) / 1.0), 0)
                            * 1.0 END AS qx,
                   CASE WHEN CAST(l_discount AS DOUBLE) >= 0.11 THEN 0.11
                        ELSE 0.0 + GREATEST(FLOOR(
                            (CAST(l_discount AS DOUBLE) - 0.0) / 0.01), 0)
                            * 0.01 END AS qy
            FROM lineitem
            WHERE isfinite(l_quantity) AND isfinite(l_discount)
              AND l_quantity >= 1.0 AND l_discount >= 0.0
        ), counts AS (
            SELECT CAST((CAST(LEAST(GREATEST(FLOOR((qx - 1.0) / 1.0), 0),
                       {xleaves - 1}) AS BIGINT) * {xb}) // {xleaves}
                       AS INT) AS xbucket,
                   CAST((CAST(LEAST(GREATEST(FLOOR((qy - 0.0) / 0.01), 0),
                       {yleaves - 1}) AS BIGINT) * {yb}) // {yleaves}
                       AS INT) AS ybucket,
                   COUNT(*) AS cnt
            FROM quant
            WHERE qx >= {lo!r} AND qx <= {hi!r}
              AND qx >= 1.0 AND qx < 51.0
              AND qy >= 0.0 AND qy < 0.11
            GROUP BY 1, 2)
        SELECT n.xbucket, n.ybucket,
               CAST(FLOOR(CAST(COALESCE(c.cnt, 0) AS DOUBLE)
                    + CAST(n.noise AS DOUBLE) + 0.5) AS BIGINT) AS noisy_count,
               n.n_intervals, CAST(n.variance AS DOUBLE) AS variance
        FROM noise n LEFT JOIN counts c
          ON n.xbucket = c.xbucket AND n.ybucket = c.ybucket
        ORDER BY n.xbucket, n.ybucket
        """

    o["dp_session_heatmap"] = _dp_session_heatmap_sql()

    def _dp_session_hist_sql() -> str:
        """1-D sibling of _dp_session_heatmap_sql: same lineage seed,
        l_quantity's own column index, SQL-re-derived spine over the
        50-leaf/10-bucket grid, counts from the quantized+filtered
        view."""
        from hillview_spark import api as _api

        schema = _dp_session_schema()
        col, lo, hi = _DP_SESSION_FILTER
        seed_eff = _api.effective_seed(
            _DP_SESSION_SEED, (_api.range_filter_desc(col, lo, hi),)
        )
        idx = {c: i for i, c in enumerate(sorted(schema.quantization))}
        ci = idx["l_quantity"]
        leaves, buckets = 50, 10
        scale = _priv.noise_scale(schema.epsilon("l_quantity"), leaves)
        cells = []
        for i, (l, r) in enumerate(_priv._bucket_leaf_ranges(leaves, buckets)):
            nodes = [f"{a}:{s}" for a, s in _priv.kadic_decomposition(l, r)]
            cells.append(((i, repr(float(1.0 + l))), nodes))
        spine = _kadic_spine_sql(
            ["bucket", "left_edge"], cells, seed=seed_eff, ci=ci, scale=scale
        )
        return f"""
        WITH {spine}, quant AS (
            -- roundDown: below min dropped, >= max -> the max itself
            SELECT CASE WHEN CAST(l_quantity AS DOUBLE) >= 51.0 THEN 51.0
                        ELSE 1.0 + GREATEST(FLOOR(
                            (CAST(l_quantity AS DOUBLE) - 1.0) / 1.0), 0)
                            * 1.0 END AS qx
            FROM lineitem WHERE isfinite(l_quantity) AND l_quantity >= 1.0
        ), counts AS (
            SELECT CAST((CAST(LEAST(GREATEST(FLOOR((qx - 1.0) / 1.0), 0),
                       {leaves - 1}) AS BIGINT) * {buckets}) // {leaves}
                       AS INT) AS bucket,
                   COUNT(*) AS cnt
            FROM quant
            WHERE qx >= {lo!r} AND qx <= {hi!r}
              AND qx >= 1.0 AND qx < 51.0
            GROUP BY 1)
        SELECT n.bucket, CAST(n.left_edge AS DOUBLE) AS left_edge,
               CAST(FLOOR(CAST(COALESCE(c.cnt, 0) AS DOUBLE)
                    + CAST(n.noise AS DOUBLE) + 0.5) AS BIGINT)
                   AS noisy_count,
               n.n_intervals, CAST(n.variance AS DOUBLE) AS variance
        FROM noise n LEFT JOIN counts c ON n.bucket = c.bucket
        ORDER BY n.bucket
        """

    o["dp_session_histogram"] = _dp_session_hist_sql()

    def _dp_session_page_sql() -> str:
        """Replay of the private session page: quantize + filter the
        view, take the next-20 distinct (rf, ls, quantized qty) keys,
        noise each key's duplicate count with the md5 PRF keyed on
        the PRF-escaped key values + the fallback column-combination
        index, and attach the session's noisy rows-scanned count."""
        from hillview_spark import api as _api

        schema = _dp_session_schema()
        col, lo, hi = _DP_SESSION_FILTER
        seed_eff = _api.effective_seed(
            _DP_SESSION_SEED, (_api.range_filter_desc(col, lo, hi),)
        )
        ci = _api.fallback_index(
            "l_returnflag,l_linestatus,l_quantity", len(schema.quantization)
        )
        scanned_noise_sql = _count_noise_sql(seed_eff, ci, 1.0, special=-1)
        return f"""
        WITH quant AS (
            -- roundDown: below min dropped, >= max -> the max itself
            SELECT l_returnflag, l_linestatus,
                   CASE WHEN CAST(l_quantity AS DOUBLE) >= 51.0 THEN 51.0
                        ELSE 1.0 + GREATEST(FLOOR(
                            (CAST(l_quantity AS DOUBLE) - 1.0) / 1.0), 0)
                            * 1.0 END AS l_quantity
            FROM lineitem WHERE isfinite(l_quantity) AND l_quantity >= 1.0
        ), view_rows AS (
            SELECT * FROM quant
            WHERE l_quantity >= {lo!r} AND l_quantity <= {hi!r}
        ), page AS (
            SELECT l_returnflag, l_linestatus, l_quantity,
                   COUNT(*) AS cnt
            FROM view_rows GROUP BY 1, 2, 3
            ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST,
                     l_quantity NULLS LAST LIMIT 20
        ), unif AS (
            SELECT *,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('l_returnflag')} || '|'
                           || {_prf_field_sql('l_linestatus')} || '|'
                           || {_prf_field_sql('l_quantity')} || '|'
                           || '{ci}' || '|{seed_eff}'), 1, 13)) AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM page
        )
        SELECT l_returnflag, l_linestatus, l_quantity,
               CAST(FLOOR(CAST(cnt AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_cnt,
               (SELECT CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                            + {scanned_noise_sql} + 0.5)
                       AS BIGINT)
                FROM view_rows) AS noisy_rows_scanned
        FROM unif
    """

    o["dp_session_page"] = _dp_session_page_sql()

    def _dp_string_sql() -> str:
        segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        scale = _priv.noise_scale(1.0, len(segs))
        cells = []
        for i, (l, r) in enumerate(_priv._bucket_leaf_ranges(len(segs), len(segs))):
            nodes = [f"{a}:{s}" for a, s in _priv.kadic_decomposition(l, r)]
            cells.append(((i, f"'{segs[l]}'"), nodes))
        spine = _kadic_spine_sql(
            ["bucket", "left_boundary"], cells, seed=7, ci=1, scale=scale
        )
        seg_list = ", ".join(f"'{s}'" for s in segs)
        return f"""
        WITH {spine}, counts AS (
            -- below the first boundary EXCLUDED (reference
            -- StringColumnQuantization.outOfRange -> bucketIndex -1)
            SELECT CAST(GREATEST(LEN(LIST_FILTER([{seg_list}],
                       x -> x <= c_mktsegment)) - 1, 0) AS INT) AS bucket,
                   COUNT(*) AS cnt
            FROM customer WHERE c_mktsegment IS NOT NULL
              AND c_mktsegment >= '{segs[0]}' GROUP BY 1)
        SELECT n.bucket, n.left_boundary,
               CAST(FLOOR(CAST(COALESCE(c.cnt, 0) AS DOUBLE)
                    + CAST(n.noise AS DOUBLE) + 0.5) AS BIGINT) AS noisy_count,
               n.n_intervals, CAST(n.variance AS DOUBLE) AS variance
        FROM noise n LEFT JOIN counts c ON n.bucket = c.bucket
        ORDER BY n.bucket
        """

    o["dp_histogram_mktsegment"] = _dp_string_sql()

    # count-query draws: re-derived in SQL from the md5 special
    # buckets (-1 = TotalCount, -3 = DistinctCount) — zero literals
    _cnt_noise_sql = _count_noise_sql(7, 0, 1.0, special=-1)
    o["dp_count_lineitem"] = f"""
        SELECT CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                    + {_cnt_noise_sql}
                    + 0.5) AS BIGINT) AS noisy_rows,
               CAST({_priv.laplace_variance(1.0)!r} AS DOUBLE) AS variance
        FROM lineitem
    """

    o["dp_distinct_custkey"] = f"""
        SELECT CAST(FLOOR(CAST(COUNT(DISTINCT o_custkey) AS DOUBLE)
                    + {_count_noise_sql(7, 0, 1.0, special=-3)}
                    + 0.5) AS BIGINT)
                   AS noisy_distinct,
               CAST({_priv.laplace_variance(1.0)!r} AS DOUBLE) AS variance
        FROM orders
    """

    # r12 (re-keyed r13): bounded sum / mean — the clipped-
    # contribution mechanisms. The clip expression mirrors
    # privacy.dp_sum exactly (present = FINITE -> clamp to [lo, hi],
    # else contribute 0.0; DECIMAL(20,6) makes the aggregate
    # order-independent), the releases are FLOOR(x + 0.5) integers
    # (r13 — the file-wide drift-absorbing discipline; r12 shipped
    # raw doubles whose hash relied on bit-equal libm LN), and the
    # draws re-derive in SQL from dp_sum's SPECIAL_SUM (-4) bucket
    # vs dp_mean's OWN SPECIAL_MEAN_SUM (-5) / SPECIAL_MEAN_COUNT
    # (-6) buckets (r13 — the shared-bucket pair was 0-DP at one
    # seed) at the sensitivity-scaled widths (40/1.0 and 250/0.5).
    o["dp_sum_quantity"] = f"""
        SELECT CAST(FLOOR(
                   CAST(COALESCE(SUM(CAST(
                       CASE WHEN isfinite(l_quantity)
                            THEN LEAST(GREATEST(
                                     CAST(l_quantity AS DOUBLE), 5.0), 40.0)
                            ELSE 0.0 END AS DECIMAL(20,6))), 0) AS DOUBLE)
                   + {_scaled_noise_sql(7, 0, 40.0, special=-4)}
                   + 0.5) AS BIGINT) AS noisy_sum,
               CAST({_priv.laplace_variance(40.0)!r} AS DOUBLE)
                   AS variance
        FROM lineitem
    """

    o["dp_mean_value"] = f"""
        WITH agg AS (
            SELECT CAST(FLOOR(
                       CAST(COALESCE(SUM(CAST(
                           CASE WHEN isfinite(value)
                                THEN LEAST(GREATEST(
                                         CAST(value AS DOUBLE), 0.0), 250.0)
                                ELSE 0.0 END AS DECIMAL(20,6))), 0)
                            AS DOUBLE)
                       + {_scaled_noise_sql(7, 0, 500.0, special=-5)}
                       + 0.5) AS BIGINT) AS noisy_sum,
                   CAST(FLOOR(
                       CAST(COUNT(*) AS DOUBLE)
                       + {_count_noise_sql(7, 0, 0.5, special=-6)}
                       + 0.5) AS BIGINT) AS noisy_count
            FROM events
        )
        SELECT noisy_sum, noisy_count,
               CASE WHEN noisy_count > 0
                    THEN CAST(noisy_sum AS DOUBLE)
                         / CAST(noisy_count AS DOUBLE) END AS noisy_mean
        FROM agg
    """

    # r13: stability histogram over the unknown user-id domain — the
    # value-keyed 'udom' draw re-derives from md5(user_id|udom|7),
    # the release is the rounded integer, and the threshold tau =
    # 1 + 2*ln(2/delta)/eps + 0.5 is the identical Python literal on
    # both sides (membership depends only on the drift-absorbed
    # integer release, not a raw double compare)
    o["dp_active_users"] = f"""
        WITH c AS (
            SELECT user_id AS value, COUNT(*) AS cnt
            FROM events WHERE user_id IS NOT NULL GROUP BY 1
        ), unif AS (
            SELECT value, cnt,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('value')} || '|udom|7'),
                           1, 13)) AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM c
        )
        SELECT value,
               CAST(FLOOR(CAST(cnt AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_count
        FROM unif
        WHERE CAST(FLOOR(CAST(cnt AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT)
              > {1.0 + 2.0 * _math.log(2.0 / 1e-14) / 1.0 + 0.5!r}
    """

    # per-key counts are noised with the portable md5-PRF Laplace
    # (key = "rf|ls|qty|column_index|seed", scale 1/epsilon = 1.0).
    # Each field goes through the same escaping as privacy._prf_field
    # (backslash doubled, '|' -> '\|', NULL -> '\N') — identity on
    # these values, but the recipes must stay textually twinned.
    o["dp_next_k_rows"] = f"""
        WITH page AS (
            SELECT l_returnflag, l_linestatus, l_quantity,
                   COUNT(*) AS cnt
            FROM lineitem GROUP BY 1, 2, 3
            ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST,
                     l_quantity NULLS LAST LIMIT 20
        ), unif AS (
            SELECT *,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('l_returnflag')} || '|'
                           || {_prf_field_sql('l_linestatus')} || '|'
                           || {_prf_field_sql('l_quantity')}
                           || '|0|7'), 1, 13)) AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM page
        )
        SELECT l_returnflag, l_linestatus, l_quantity,
               CAST(FLOOR(CAST(cnt AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_cnt,
               (SELECT CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                            + {_cnt_noise_sql} + 0.5) AS BIGINT)
                FROM lineitem) AS noisy_rows_scanned
        FROM unif
    """

    # pca_project: for d=2 the correlation matrix is [[1,r],[r,1]],
    # whose eigenvectors are exactly (1,1)/sqrt(2) and (1,-1)/sqrt(2)
    # for any r != 0 — only their eigenvalue ORDER depends on sign(r).
    # pca_project snaps eigenvector components to 8 decimals, so both
    # engines project with the identical constant 0.70710678; the
    # sign convention (largest-|w| component positive, ties -> first)
    # makes the first weight always +c and flips only the second.
    _pca_c = "0.70710678"
    _pca_z1 = "((p_size - mu1) / sd1)"
    _pca_z2 = "((p_retailprice - mu2) / sd2)"
    o["pca_project"] = f"""
        WITH s AS (
            SELECT avg(p_size) AS mu1, stddev_samp(p_size) AS sd1,
                   avg(CASE WHEN isfinite(p_retailprice)
                            THEN p_retailprice END) AS mu2,
                   stddev_samp(CASE WHEN isfinite(p_retailprice)
                                    THEN p_retailprice END) AS sd2,
                   corr(CASE WHEN isfinite(p_retailprice) THEN p_size END,
                        CASE WHEN isfinite(p_retailprice)
                             THEN p_retailprice END) AS r
            FROM part)
        SELECT p_partkey,
               round(0.0 + {_pca_z1} * {_pca_c}
                   + {_pca_z2} * (CASE WHEN r >= 0 THEN {_pca_c}
                                  ELSE -{_pca_c} END), 6) AS pc0,
               round(0.0 + {_pca_z1} * {_pca_c}
                   + {_pca_z2} * (CASE WHEN r >= 0 THEN -{_pca_c}
                                  ELSE {_pca_c} END), 6) AS pc1
        FROM part, s
    """

    # --- further exploration queries -------------------------------------
    o["top_customers_revenue"] = """
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(CASE WHEN isfinite(o_totalprice)
                                  THEN o_totalprice END
                             AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_custkey, c_name
        ORDER BY total_spent DESC, c_custkey LIMIT 10
    """
    o["part_type_stats"] = """
        SELECT p_type, COUNT(*) AS n_parts,
               CAST(SUM(CAST(CASE WHEN isfinite(p_retailprice)
                                  THEN p_retailprice END
                             AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               min(p_size) AS min_size, max(p_size) AS max_size
        FROM part GROUP BY p_type
    """
    o["events_user_topk"] = """
        SELECT user_id, COUNT(*) AS n_events FROM events
        GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 10
    """
    o["docs_source_lang_matrix"] = """
        SELECT source, lang, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
    """
    o["orders_status_by_month"] = """
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               o_orderstatus, COUNT(*) AS cnt
        FROM orders GROUP BY 1, 2
    """

    # --- dedup ---------------------------------------------------------
    o["dedup_exact"] = """
        SELECT md5(text) AS fingerprint, min(doc_id) AS keeper_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY 1
    """
    o["dedup_ngram_jaccard"] = f"""
        WITH {_SHINGLES},
        shh AS (SELECT doc_id, CAST('0x'||substr(md5(s),1,15) AS BIGINT) AS s
                FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY 1),
        inter AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) AS c
                  FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT d1 AS doc_id_1, d2 AS doc_id_2,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = d1
                   JOIN sizes sb ON sb.doc_id = d2
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
    """
    # r15 late block: asymmetric containment on the same shingle
    # machinery — c/na and c/nb per candidate pair, kept when the
    # larger direction clears 0.8
    o["dedup_ngram_containment"] = f"""
        WITH {_SHINGLES},
        shh AS (SELECT doc_id, CAST('0x'||substr(md5(s),1,15) AS BIGINT) AS s
                FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY 1),
        inter AS (SELECT a.doc_id d1, b.doc_id d2, COUNT(*) AS c
                  FROM shh a JOIN shh b ON a.s = b.s AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT d1 AS doc_id_1, d2 AS doc_id_2,
               round(CAST(c AS DOUBLE) / sa.n, 4) AS containment_1_in_2,
               round(CAST(c AS DOUBLE) / sb.n, 4) AS containment_2_in_1
        FROM inter JOIN sizes sa ON sa.doc_id = d1
                   JOIN sizes sb ON sb.doc_id = d2
        WHERE GREATEST(CAST(c AS DOUBLE) / sa.n,
                       CAST(c AS DOUBLE) / sb.n) >= 0.8
    """
    # r11: per-doc duplicate-n-gram fraction (curation.ngram_novelty).
    # The shingle rows are DISTINCT per doc, so COUNT(*) per shingle
    # IS the document frequency; docs with no shingles (NULL text,
    # < 3 tokens) anchor through the LEFT JOIN and score 0/0/0.0.
    o["ngram_novelty"] = f"""
        WITH {_SHINGLES},
        shh AS (SELECT doc_id, CAST('0x'||substr(md5(s),1,15) AS BIGINT) AS s
                FROM sh),
        dfc AS (SELECT s, COUNT(*) AS df FROM shh GROUP BY 1),
        per AS (SELECT doc_id, COUNT(*) AS n_ngrams,
                       SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS dup
                FROM shh JOIN dfc USING (s) GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(n_ngrams, 0) AS BIGINT) AS n_ngrams,
               CAST(COALESCE(dup, 0) AS BIGINT) AS dup_ngrams,
               CASE WHEN n_ngrams IS NULL THEN 0.0
                    ELSE round(CAST(dup AS DOUBLE) / n_ngrams, 4)
               END AS dup_frac
        FROM documents d LEFT JOIN per USING (doc_id)
    """
    o["dedup_components"] = f"""
        WITH RECURSIVE pairs AS (
          SELECT doc_id_1, doc_id_2 FROM ({o['dedup_ngram_jaccard']})
        ),
        edges AS (
          SELECT doc_id_1 AS src, doc_id_2 AS dst FROM pairs
          UNION
          SELECT doc_id_2 AS src, doc_id_1 AS dst FROM pairs
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, least(src, min(dst)) AS component
        FROM reach GROUP BY src
    """
    o["dedup_representatives"] = f"""
        WITH comps AS ({o['dedup_components']}),
        j AS (SELECT c.component, c.doc_id, d.n_chars,
                     row_number() OVER (PARTITION BY c.component
                       ORDER BY d.n_chars DESC, c.doc_id) AS rk,
                     COUNT(*) OVER (PARTITION BY c.component) AS n_members
              FROM comps c JOIN documents d ON c.doc_id = d.doc_id)
        SELECT component, doc_id AS rep_doc_id, n_chars AS rep_quality,
               n_members
        FROM j WHERE rk = 1
    """
    o["dedup_minhash_lsh"] = _minhash_sql()
    # persisted-index query: same banding, pairs restricted to
    # corpus (doc_id % 20 != 0) x incoming batch (doc_id % 20 = 0)
    _mh = _minhash_sql()
    # the corpus x batch restriction rewrites the pair predicate —
    # assert the anchor text exists so a reformat of _minhash_sql
    # can't silently turn the rewrite into a no-op
    assert "a.doc_id < b.doc_id" in _mh, "_minhash_sql pair predicate moved"
    o["csv_roundtrip_orders"] = "SELECT * FROM orders"
    o["dedup_lsh_index_query"] = f"""
        WITH inner_pairs AS ({_mh.replace(
            "a.doc_id < b.doc_id",
            "a.doc_id % 20 != 0 AND b.doc_id % 20 = 0"
        )})
        SELECT doc_id_1 AS corpus_doc_id, doc_id_2 AS new_doc_id
        FROM inner_pairs
    """
    o["dedup_lsh_verify"] = f"""
        WITH cand AS ({_minhash_sql()}),
        {_SHINGLES},
        shh AS (SELECT doc_id, CAST('0x'||substr(md5(s),1,15) AS BIGINT) AS s
                FROM sh),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shh GROUP BY 1),
        inter AS (SELECT c.doc_id_1, c.doc_id_2, COUNT(*) AS c
                  FROM cand c
                  JOIN shh a ON a.doc_id = c.doc_id_1
                  JOIN shh b ON b.doc_id = c.doc_id_2 AND b.s = a.s
                  GROUP BY 1, 2)
        SELECT doc_id_1, doc_id_2,
               round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 4) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = doc_id_1
                   JOIN sizes sb ON sb.doc_id = doc_id_2
        WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= 0.3
    """
    o["dedup_simhash"] = _simhash_pairs_sql()
    # r13 (gram identity r14): exact-substring dedup — positioned
    # 5-grams keyed by the FULL 32-hex md5 gm, the only gram key on
    # BOTH engines (VERDICT-r13 What's-wrong #1: the r13 60-bit
    # prefix key's birthday collisions could mint false seeds —
    # structurally closed), seeds = grams at
    # >= 2 (doc,pos) sites corpus-wide (within-doc repeats count, as
    # a suffix array would), covered positions merge into maximal
    # spans via the lag/running-sum island rule (break when the
    # start gap exceeds n), span_text re-sliced from the token array
    o["dedup_substring"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '') AS t
                    FROM documents),
        g AS (SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i:i+4], ' ')) AS gm
              FROM tk, UNNEST(generate_series(1, len(t) - 4)) u(i)
              WHERE len(t) >= 5),
        dup AS (SELECT gm FROM g GROUP BY gm HAVING COUNT(*) >= 2),
        cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gm)),
        isl AS (SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl),
        spans AS (SELECT doc_id,
                         MIN(pos) AS span_start,
                         MAX(pos) + 4 AS span_end,
                         COUNT(*) AS n_dup_grams
                  FROM isl2 GROUP BY doc_id, island)
        SELECT s.doc_id,
               CAST(span_start AS BIGINT) AS span_start,
               CAST(span_end AS BIGINT) AS span_end,
               CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens,
               CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
               array_to_string(t[span_start:span_end], ' ') AS span_text
        FROM spans s JOIN tk USING (doc_id)
    """
    # the EDIT half: cut every token inside a span from ALL sites,
    # reassemble per doc; every input doc survives (NULL/empty text
    # rebuilds as '' with 0/0 counts)
    o["dedup_substring_remove"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(
                               trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS t
                    FROM documents),
        g AS (SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i:i+4], ' ')) AS gm
              FROM tk, UNNEST(generate_series(1, len(t) - 4)) u(i)
              WHERE len(t) >= 5),
        dup AS (SELECT gm FROM g GROUP BY gm HAVING COUNT(*) >= 2),
        cov AS (SELECT doc_id, pos FROM g JOIN dup USING (gm)),
        isl AS (SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl),
        spans AS (SELECT doc_id,
                         MIN(pos) AS span_start,
                         MAX(pos) + 4 AS span_end
                  FROM isl2 GROUP BY doc_id, island),
        covered AS (SELECT DISTINCT doc_id, p
                    FROM spans,
                         UNNEST(generate_series(span_start, span_end)) v(p)),
        toks AS (SELECT doc_id, i AS pos, t[i] AS tok
                 FROM tk, UNNEST(generate_series(1, len(t))) u(i)),
        kept AS (SELECT tkr.doc_id, tkr.pos, tkr.tok
                 FROM toks tkr
                 LEFT JOIN covered c
                   ON c.doc_id = tkr.doc_id AND c.p = tkr.pos
                 WHERE c.p IS NULL),
        rebuilt AS (SELECT doc_id,
                           COALESCE(array_to_string(
                               LIST(tok ORDER BY pos), ' '), '') AS text,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY doc_id)
        SELECT tk.doc_id,
               COALESCE(r.text, '') AS text,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
               CAST(len(tk.t) - COALESCE(r.n_kept, 0) AS BIGINT)
                   AS n_tokens_removed
        FROM tk LEFT JOIN rebuilt r USING (doc_id)
    """
    # r14: keep-one (Lee et al.) policy — identical pipeline except
    # coverage EXEMPTS the first (doc_id, pos) site of each
    # duplicated gram (row_number over the gram key), so the
    # earliest occurrence of repeated content survives the cut
    o["dedup_substring_keep_one"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(
                               trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS t
                    FROM documents),
        g AS (SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i:i+4], ' ')) AS gm
              FROM tk, UNNEST(generate_series(1, len(t) - 4)) u(i)
              WHERE len(t) >= 5),
        dup AS (SELECT gm FROM g GROUP BY gm HAVING COUNT(*) >= 2),
        cov AS (SELECT doc_id, pos FROM (
                    SELECT g.doc_id, g.pos,
                           row_number() OVER (
                               PARTITION BY gm
                               ORDER BY g.doc_id, g.pos) AS rk
                    FROM g JOIN dup USING (gm))
                WHERE rk > 1),
        isl AS (SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl),
        spans AS (SELECT doc_id,
                         MIN(pos) AS span_start,
                         MAX(pos) + 4 AS span_end
                  FROM isl2 GROUP BY doc_id, island),
        covered AS (SELECT DISTINCT doc_id, p
                    FROM spans,
                         UNNEST(generate_series(span_start, span_end)) v(p)),
        toks AS (SELECT doc_id, i AS pos, t[i] AS tok
                 FROM tk, UNNEST(generate_series(1, len(t))) u(i)),
        kept AS (SELECT tkr.doc_id, tkr.pos, tkr.tok
                 FROM toks tkr
                 LEFT JOIN covered c
                   ON c.doc_id = tkr.doc_id AND c.p = tkr.pos
                 WHERE c.p IS NULL),
        rebuilt AS (SELECT doc_id,
                           COALESCE(array_to_string(
                               LIST(tok ORDER BY pos), ' '), '') AS text,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY doc_id)
        SELECT tk.doc_id,
               COALESCE(r.text, '') AS text,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
               CAST(len(tk.t) - COALESCE(r.n_kept, 0) AS BIGINT)
                   AS n_tokens_removed
        FROM tk LEFT JOIN rebuilt r USING (doc_id)
    """
    # r14: surgical span decontamination — decontaminate_spans'
    # coverage (train grams IN the DISTINCT eval gram set, full-md5
    # identity) pushed through the same cut/rebuild as
    # dedup_substring_remove; one row per TRAIN doc survives
    o["decontaminate_spans_remove"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(
                               trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS t
                    FROM documents),
        g AS (SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i:i+4], ' ')) AS gm
              FROM tk, UNNEST(generate_series(1, len(t) - 4)) u(i)
              WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT gm FROM g WHERE doc_id % 20 = 0),
        cov AS (SELECT doc_id, pos FROM g
                WHERE doc_id % 20 <> 0 AND gm IN (SELECT gm FROM ev)),
        isl AS (SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl),
        spans AS (SELECT doc_id,
                         MIN(pos) AS span_start,
                         MAX(pos) + 4 AS span_end
                  FROM isl2 GROUP BY doc_id, island),
        covered AS (SELECT DISTINCT doc_id, p
                    FROM spans,
                         UNNEST(generate_series(span_start, span_end)) v(p)),
        toks AS (SELECT doc_id, i AS pos, t[i] AS tok
                 FROM tk, UNNEST(generate_series(1, len(t))) u(i)
                 WHERE doc_id % 20 <> 0),
        kept AS (SELECT tkr.doc_id, tkr.pos, tkr.tok
                 FROM toks tkr
                 LEFT JOIN covered c
                   ON c.doc_id = tkr.doc_id AND c.p = tkr.pos
                 WHERE c.p IS NULL),
        rebuilt AS (SELECT doc_id,
                           COALESCE(array_to_string(
                               LIST(tok ORDER BY pos), ' '), '') AS text,
                           COUNT(*) AS n_kept
                    FROM kept GROUP BY doc_id)
        SELECT tk.doc_id,
               COALESCE(r.text, '') AS text,
               CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_tokens_kept,
               CAST(len(tk.t) - COALESCE(r.n_kept, 0) AS BIGINT)
                   AS n_tokens_removed
        FROM tk LEFT JOIN rebuilt r USING (doc_id)
        WHERE tk.doc_id % 20 <> 0
    """
    o["text_fingerprint"] = r"""
        SELECT doc_id,
               md5(trim(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
        FROM documents
    """

    # --- similarity ------------------------------------------------------
    _nrm = _dot_sql("embedding", "embedding")
    o["ann_cosine_topk"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm FROM embeddings),
        q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0)
        SELECT * FROM (
          SELECT vec_id,
                 round({_cos_sql(_dot_sql('embedding', 'qv'), 'nrm', 'qn')}, 6) AS cosine
          FROM e, q WHERE vec_id <> 0)
        WHERE cosine IS NOT NULL
        ORDER BY cosine DESC, vec_id LIMIT 10
    """
    o["ann_lsh_topk"] = _ann_lsh_sql(planes=4, k=10)

    # PQ twins: same stride codebook (vec_id % 50 = 1, first 8), same
    # decimal sub-distance (||c_j||^2 - 2 x_j.c_j), lowest-code ties —
    # mirrors similarity.pq_encode_exact / pq_topk_exact (m=4 x 16 dims)
    def _pq_dist(vec: str, cvec: str, lo: int, hi: int) -> str:
        # crash-proof element casts (r9): the PQ CTEs already
        # quarantine non-finite vectors, so the guards are
        # belt-and-braces against a future caller skipping the filter
        n = hi - lo + 1
        a, c = f"({vec}[{lo}:{hi}])", f"({cvec}[{lo}:{hi}])"
        d8 = _fin_elem_sql
        dot = (f"list_sum([{d8(a + '[i]')} * {d8(c + '[i]')}"
               f" FOR i IN generate_series(1, {n})])")
        cn = (f"list_sum([{d8(c + '[i]')} * {d8(c + '[i]')}"
              f" FOR i IN generate_series(1, {n})])")
        return f"({cn} - 2 * {dot})"

    _pq_sub_union = " UNION ALL ".join(
        f"SELECT e.vec_id, {j} AS j, c.cid, "
        f"{_pq_dist('e.embedding', 'c.cvec', j * 16 + 1, j * 16 + 16)} AS d "
        "FROM e, cent c"
        for j in range(4)
    )
    _pq_prefix = f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id <> 0 AND len(embedding) = 64
                     AND {_vec_clean_sql('embedding')}),
        -- r10: pq_topk's Spark codebook is now CORPUS-INVARIANT
        -- (built on the full quarantined table, query included); the
        -- vec_id <> 0 here is vacuous for the codebook — 0 % 50 = 0
        -- is never stride-eligible — so this cent is identical for
        -- both the encode key (whose corpus excludes 0 upstream) and
        -- the topk key, on any fixture
        cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                        embedding AS cvec
                 FROM embeddings
                 WHERE vec_id <> 0 AND vec_id % 50 = 1
                   AND len(embedding) = 64
                   AND {_vec_clean_sql('embedding')}
                 ORDER BY vec_id LIMIT 8),
        sub AS ({_pq_sub_union}),
        codes AS (SELECT vec_id, j, cid AS code FROM (
            SELECT vec_id, j, cid,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d, cid) AS rn
            FROM sub) t WHERE rn = 1)
    """
    o["pq_encode"] = f"""
        {_pq_prefix}
        SELECT vec_id, CAST(j AS INT) AS subspace, CAST(code AS INT) AS code
        FROM codes
    """
    _pq_qd_union = " UNION ALL ".join(
        f"SELECT {j} AS j, c.cid, "
        f"{_pq_dist('q.qv', 'c.cvec', j * 16 + 1, j * 16 + 16)} AS qdist "
        "FROM q, cent c"
        for j in range(4)
    )
    o["pq_topk"] = f"""
        {_pq_prefix},
        q AS (SELECT embedding AS qv FROM embeddings
              WHERE vec_id = 0 AND len(embedding) = 64
                AND {_vec_clean_sql('embedding')}),
        qd AS ({_pq_qd_union}),
        adc AS (SELECT codes.vec_id, SUM(qd.qdist) AS s
                FROM codes JOIN qd ON codes.j = qd.j AND codes.code = qd.cid
                GROUP BY codes.vec_id)
        SELECT vec_id, round(CAST(s AS DOUBLE), 6) AS adc_score
        FROM adc ORDER BY adc_score, vec_id LIMIT 10
    """
    # IVF exact twin: same id-rule quantizer (vec_id % 50 = 1, first 8),
    # same decimal argmin assignment (||c||² - 2·x·c, ties to lowest
    # cell), same 3-cell probe — mirrors similarity.ivf_topk_exact.
    o["ann_ivf_topk"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm
                   FROM embeddings WHERE vec_id <> 0),
        cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                        embedding AS cvec, {_nrm} AS cnrm
                 FROM embeddings WHERE vec_id % 50 = 1
                 ORDER BY vec_id LIMIT 8),
        q AS (SELECT embedding AS qv, {_nrm} AS qn
              FROM embeddings WHERE vec_id = 0),
        probe AS (SELECT cell FROM cent, q
                  ORDER BY cnrm - 2 * {_dot_sql('cvec', 'qv')} NULLS LAST, cell
                  LIMIT 3),
        assigned AS (SELECT vec_id, cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY c.cnrm - 2 * {_dot_sql('e.embedding', 'c.cvec')},
                              c.cell) AS rn
            FROM e, cent c
            WHERE c.cnrm - 2 * {_dot_sql('e.embedding', 'c.cvec')} IS NOT NULL) WHERE rn = 1)
        SELECT * FROM (
          SELECT e.vec_id,
                 round({_cos_sql(_dot_sql('e.embedding', 'qv'), 'e.nrm', 'qn')}, 6)
                   AS cosine
          FROM e
          JOIN assigned a ON e.vec_id = a.vec_id
          JOIN probe p ON a.cell = p.cell, q)
        WHERE cosine IS NOT NULL
        ORDER BY cosine DESC, vec_id LIMIT 10
    """
    # the persisted exact-twin index returns bit-identical results
    # to the live twin (pytest-proved), so it shares the oracle —
    # the gate then proves the parquet round-trip + partition-pruned
    # read reproduce the live release
    o["ann_ivf_topk_indexed"] = o["ann_ivf_topk"]
    # semantic_dedup: stride-quantizer cells (same rule as
    # ann_ivf_topk) + within-cell earlier-neighbor rule; exact
    # decimal cosine rounded to 6, so the keep set is bit-stable.
    o["semantic_dedup"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm
                   FROM embeddings),
        cent AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                        embedding AS cvec, {_nrm} AS cnrm
                 FROM embeddings WHERE vec_id % 50 = 1
                 ORDER BY vec_id LIMIT 8),
        assigned AS (SELECT vec_id, CAST(cell AS INT) AS cell FROM (
            SELECT e.vec_id, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY c.cnrm - 2 * {_dot_sql('e.embedding', 'c.cvec')},
                              c.cell) AS rn
            FROM e, cent c
            WHERE c.cnrm - 2 * {_dot_sql('e.embedding', 'c.cvec')} IS NOT NULL) WHERE rn = 1),
        dups AS (SELECT ab.vec_id AS id_b FROM e ea
                 JOIN assigned aa ON ea.vec_id = aa.vec_id
                 JOIN assigned ab ON aa.cell = ab.cell
                                 AND aa.vec_id < ab.vec_id
                 JOIN e eb ON eb.vec_id = ab.vec_id
                 WHERE round({_cos_sql(_dot_sql('ea.embedding', 'eb.embedding'), 'ea.nrm', 'eb.nrm')}, 6) >= 0.4
                 GROUP BY ab.vec_id)
        SELECT a.vec_id, a.cell, (d.id_b IS NULL) AS keep
        FROM assigned a LEFT JOIN dups d ON a.vec_id = d.id_b
    """

    o["dedup_embedding_cosine"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm FROM embeddings
                   WHERE vec_id % 4 = 0)
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round({_cos_sql(_dot_sql('a.embedding', 'b.embedding'), 'a.nrm', 'b.nrm')}, 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        WHERE cosine >= 0.4
    """

    o["ann_knn_join"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm FROM embeddings
                   WHERE vec_id % 4 = 0),
        c AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     round({_cos_sql(_dot_sql('a.embedding', 'b.embedding'), 'a.nrm', 'b.nrm')}, 6) AS cosine
              FROM e a JOIN e b ON a.vec_id <> b.vec_id)
        SELECT * FROM (
          SELECT vec_id, neighbor_id, cosine,
                 CAST(row_number() OVER (PARTITION BY vec_id
                      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
          FROM c WHERE cosine IS NOT NULL) WHERE rank <= 3
    """

    # LSH-blocked scale paths on the FULL table: the bucket string is
    # recomputed in SQL with the same decimal arithmetic, so the
    # candidate sets (and hence results) match the Spark plan exactly.
    o["ann_knn_join_lsh"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm,
                          {_bucket_sql(8)} AS bucket
                   FROM embeddings),
        c AS (SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
                     round({_cos_sql(_dot_sql('a.embedding', 'b.embedding'), 'a.nrm', 'b.nrm')}, 6) AS cosine
              FROM e a JOIN e b
                ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
        SELECT * FROM (
          SELECT vec_id, neighbor_id, cosine,
                 CAST(row_number() OVER (PARTITION BY vec_id
                      ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
          FROM c WHERE cosine IS NOT NULL) WHERE rank <= 3
    """
    o["dedup_embedding_cosine_lsh"] = f"""
        WITH e AS (SELECT vec_id, embedding, {_nrm} AS nrm,
                          {_bucket_sql(4)} AS bucket
                   FROM embeddings)
        SELECT * FROM (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round({_cos_sql(_dot_sql('a.embedding', 'b.embedding'), 'a.nrm', 'b.nrm')}, 6) AS cosine
          FROM e a JOIN e b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        WHERE cosine >= 0.4
    """

    # --- round-2 additions ----------------------------------------------
    o["range_filter_array"] = """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate
        FROM lineitem
        WHERE l_quantity >= 10 AND l_quantity <= 30
          AND l_extendedprice >= 1000.0 AND l_extendedprice <= 20000.0
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <= TIMESTAMP '1996-12-31'
    """
    # bm25_search: mirror of functions/search.py op-for-op. The only
    # cross-library-wobbly op (LN) is quantized through DECIMAL(20,9)
    # right after the log in BOTH engines; all other per-row double
    # ops are bit-identical given identical op order.
    def _bm25_sql(terms: list[str], k1: float = 1.2, b: float = 0.75) -> str:
        tf_cols = ",\n                   ".join(
            f"CAST(len(list_filter(toks, x -> x = '{tm}')) AS BIGINT)"
            f" AS tf{i}"
            for i, tm in enumerate(terms)
        )
        df_cols = ",\n                   ".join(
            f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
            for i in range(len(terms))
        )
        rel = (
            "(CAST(dl AS DOUBLE)"
            " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))"
        )
        contribs = []
        for i in range(len(terms)):
            idf = (
                f"CAST(CAST(LN(1.0 + (CAST(n_docs AS DOUBLE)"
                f" - CAST(df{i} AS DOUBLE) + 0.5)"
                f" / (CAST(df{i} AS DOUBLE) + 0.5))"
                f" AS DECIMAL(20,9)) AS DOUBLE)"
            )
            contribs.append(
                f"{idf} * (CAST(tf{i} AS DOUBLE) * {k1 + 1.0!r})"
                f" / (CAST(tf{i} AS DOUBLE)"
                f" + {k1!r} * ({1.0 - b!r} + {b!r} * {rel}))"
            )
        score = "\n               + ".join(contribs)
        hits = " OR ".join(f"tf{i} > 0" for i in range(len(terms)))
        return f"""
        WITH per AS (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                   {tf_cols}
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(
                             trim(lower(coalesce(text, ''))), '\\s+'),
                             x -> x <> '') AS toks
                  FROM documents)
        ), stats AS (
            SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
                   {df_cols}
            FROM per
        )
        SELECT doc_id,
               CAST(CAST({score} AS DECIMAL(20,8)) AS DOUBLE) AS bm25
        FROM per, stats
        WHERE {hits}
        """

    o["bm25_search"] = _bm25_sql(["spark", "hash", "vector"])

    # tfidf_top_terms: idf quantizes through DECIMAL(20,9) after the
    # LN in both engines (see bm25_search); tf is exact, ranks break
    # ties by term.
    o["tfidf_top_terms"] = """
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(
                       trim(lower(coalesce(text, ''))), '\\s+')) AS term
            FROM documents
        ), pairs AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM toks WHERE term <> '' GROUP BY 1, 2
        ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        dfreq AS (SELECT term, COUNT(*) AS df FROM pairs GROUP BY 1),
        idf AS (
            SELECT term,
                   CAST(CAST(LN(CAST(n_docs AS DOUBLE)
                        / CAST(df AS DOUBLE)) AS DECIMAL(20,9))
                        AS DOUBLE) AS idf
            FROM dfreq, nd
            WHERE df >= 2
              AND CAST(df AS DOUBLE) <= 0.95 * CAST(n_docs AS DOUBLE)
        ), scored AS (
            SELECT p.doc_id, p.term, p.tf,
                   CAST(p.tf AS DOUBLE) * i.idf AS tfidf
            FROM pairs p JOIN idf i ON p.term = i.term
        )
        SELECT doc_id, term, tf, tfidf, rank FROM (
            SELECT doc_id, term, tf, tfidf,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY tfidf DESC, term) AS INT) AS rank
            FROM scored)
        WHERE rank <= 3
    """

    # text_lm_nll: mirror of text.bigram_lm_nll op-for-op; the
    # per-bigram -LN(p) quantizes through DECIMAL(20,9) in both
    # engines, and the per-doc mean is an exact decimal sum — see the
    # operator docstring for the determinism argument.
    _lm_a = 0.1
    o["text_lm_nll"] = f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(
                       trim(lower(coalesce(text, ''))), '\\s+'),
                       x -> x <> '') AS t
            FROM documents
        ), bi AS (
            SELECT doc_id, t[CAST(u.i AS INT)] AS w1,
                   t[CAST(u.i AS INT) + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
        ), uni AS (
            SELECT w1, COUNT(*) AS cu
            FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY 1
        ), bic AS (
            SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2
        ), v AS (SELECT COUNT(*) AS v FROM uni)
        SELECT doc_id,
               CAST(SUM(nllq) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS nll,
               COUNT(*) AS n_bigrams
        FROM (
            SELECT bi.doc_id,
                   CAST(-LN((CAST(COALESCE(bic.cb, 0) AS DOUBLE)
                             + {_lm_a!r})
                        / (CAST(COALESCE(uni.cu, 0) AS DOUBLE)
                           + {_lm_a!r} * CAST(v.v AS DOUBLE)))
                        AS DECIMAL(20,9)) AS nllq
            FROM bi
            LEFT JOIN bic ON bi.w1 = bic.w1 AND bi.w2 = bic.w2
            LEFT JOIN uni ON bi.w1 = uni.w1, v
        )
        GROUP BY doc_id
    """

    o["text_vocab"] = r"""
        WITH toks AS (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
                      FROM documents)
        SELECT token, COUNT(*) AS term_count,
               COUNT(DISTINCT doc_id) AS doc_freq
        FROM toks WHERE token <> '' GROUP BY 1 HAVING COUNT(*) >= 5
    """
    # r11: PMI collocations — the count ratio is ONE fixed-shape
    # double expression over exact int64 counts (left-assoc products,
    # one division: bit-identical cross-engine); only LN is
    # library-soft and it quantizes through DECIMAL(20,9), the
    # text_lm_nll / tfidf-idf mechanism
    o["text_collocations"] = r"""
        WITH toks AS (
            SELECT list_filter(string_split_regex(
                       trim(lower(coalesce(text, ''))), '\s+'),
                       x -> x <> '') AS t
            FROM documents
        ), bi AS (
            SELECT t[CAST(u.i AS INT)] AS w1,
                   t[CAST(u.i AS INT) + 1] AS w2
            FROM toks, UNNEST(generate_series(1, len(t) - 1)) u(i)
        ), bc AS (
            SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2
        ), uni AS (
            SELECT w, COUNT(*) AS cu
            FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        ), tot AS (
            SELECT (SELECT SUM(cu) FROM uni) AS nu,
                   (SELECT SUM(cb) FROM bc) AS nb
        )
        SELECT bc.w1, bc.w2, bc.cb AS n_pair,
               CAST(CAST(LN(
                   (CAST(cb AS DOUBLE) * CAST(nu AS DOUBLE)
                        * CAST(nu AS DOUBLE))
                   / (CAST(nb AS DOUBLE) * CAST(u1.cu AS DOUBLE)
                          * CAST(u2.cu AS DOUBLE)))
                   AS DECIMAL(20,9)) AS DOUBLE) AS pmi
        FROM bc
        JOIN uni u1 ON bc.w1 = u1.w
        JOIN uni u2 ON bc.w2 = u2.w, tot
        WHERE cb >= 5
    """
    o["text_quality_filter"] = r"""
        WITH x AS (SELECT doc_id,
            GREATEST(length(text), 1) AS n_chars,
            CASE WHEN text IS NULL THEN NULL ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS n_tokens,
            len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS punct,
            len(regexp_extract_all(lower(text),
                '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS stop
          FROM documents)
        SELECT doc_id FROM x
        WHERE n_tokens >= 10 AND n_tokens <= 100000
          AND round((least(CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1) * 2, 1.0)
                 + 1.0 / (1.0 + CAST(punct AS DOUBLE) / n_chars * 10)
                 + CAST(least(n_tokens, 200) AS DOUBLE) / 200.0) / 3.0, 4)
              >= 0.5
    """
    _verify_on_kept = o["dedup_lsh_verify"].replace(
        "FROM documents", "FROM kept_docs"
    )
    o["dedup_corpus_pipeline"] = f"""
        WITH RECURSIVE kept_docs AS (
          SELECT d.doc_id, d.text FROM documents d
          JOIN (SELECT min(doc_id) AS doc_id FROM documents
                GROUP BY md5(text)) k USING (doc_id)
        ),
        verified AS ({_verify_on_kept}),
        edges AS (
          SELECT doc_id_1 AS src, doc_id_2 AS dst FROM verified
          UNION
          SELECT doc_id_2 AS src, doc_id_1 AS dst FROM verified
        ),
        reach(src, dst) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ),
        comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
                 FROM reach GROUP BY src)
        SELECT doc_id FROM kept_docs
        WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
    """
    _split_cut = int(0.1 * 16**7)
    o["split_train_eval"] = f"""
        SELECT doc_id,
               CASE WHEN CAST('0x'||substr(md5(doc_id || '_v1'), 1, 7) AS BIGINT)
                         < {_split_cut}
                    THEN 'eval' ELSE 'train' END AS split
        FROM documents
    """
    # r12 (quota rule r14): exact-quota stratified split — same
    # salted-hash order as split_train_eval, ranked within stratum;
    # the quota is EXACT integer arithmetic in BOTH engines (r14,
    # fraction 0.1 = 1/10): ceil(n*p/q) = (n*p + q-1) // q over a
    # HUGEINT product here, DECIMAL(38,0) div on the Spark side —
    # no IEEE product anywhere, exact at any stratum size (the r13
    # CEIL(ROUND(n*f,9)) form lost exactness past n*f ~ 5e6)
    o["split_stratified"] = """
        WITH h AS (
            SELECT doc_id, source,
                   CAST('0x'||substr(md5(doc_id || '_v1'), 1, 7)
                        AS BIGINT) AS hh
            FROM documents
        ), r AS (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source ORDER BY hh, doc_id
                   ) AS rk,
                   COUNT(*) OVER (PARTITION BY source) AS n
            FROM h
        )
        SELECT doc_id, source,
               CASE WHEN rk <= (CAST(n AS HUGEINT) * 1 + 9) // 10
                    THEN 'eval' ELSE 'train' END AS split
        FROM r
    """
    # r12 (cost clamp r13): budget-prefix selection — one ordered
    # running sum, cut at the budget; decimal sum so the cumulative
    # is drift-free; negative costs clamp to 0 (charges-nothing rule
    # — a raw negative could re-admit rows past an overflow and
    # break the strict-prefix guarantee)
    o["corpus_budget_select"] = """
        SELECT doc_id, n_chars, cum_cost FROM (
            SELECT doc_id, n_chars,
                   CAST(SUM(CAST(GREATEST(COALESCE(n_chars, 0), 0)
                                 AS DECIMAL(20,0))) OVER (
                       ORDER BY n_chars DESC NULLS LAST, doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_cost
            FROM documents)
        WHERE cum_cost <= 20000
    """
    # r12: merit-ranked per-group cap — quality DESC NULLS LAST with
    # the key tie-break is a total order identical in both engines
    o["corpus_quality_cap"] = """
        SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY n_chars DESC NULLS LAST, doc_id
                   ) AS rk
            FROM documents)
        WHERE rk <= 5
    """
    o["corpus_clean_lines"] = r"""
        WITH lined AS (
          SELECT doc_id,
                 string_split(replace(text, ' value ', '.' || chr(10)),
                              chr(10)) AS ls
          FROM documents),
        filt AS (
          SELECT doc_id,
                 list_filter(ls, l ->
                     len(list_filter(string_split_regex(trim(l), '\s+'),
                                     x -> x <> '')) >= 3
                     AND regexp_matches(l, '[.!?"]\s*$')) AS kept,
                 len(ls) AS n_total
          FROM lined)
        SELECT doc_id, array_to_string(kept, chr(10)) AS text,
               CAST(len(kept) AS INT) AS n_lines_kept,
               CAST(n_total AS INT) AS n_lines_total
        FROM filt WHERE len(kept) >= 1
    """
    o["corpus_cap_per_group"] = """
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source ORDER BY
                    CAST('0x'||substr(md5(doc_id || '_cap1'), 1, 7) AS BIGINT),
                    doc_id) AS rk
          FROM documents) t
        WHERE rk <= 5
    """
    o["text_pii_scrub"] = r"""
        WITH s0 AS (SELECT doc_id, text AS t FROM documents),
        s1 AS (SELECT doc_id,
                      len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_url,
                      regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') AS t
               FROM s0),
        s2 AS (SELECT doc_id, n_url,
                      len(regexp_extract_all(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                        AS n_email,
                      regexp_replace(t,
                        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '<EMAIL>', 'g') AS t
               FROM s1),
        s3 AS (SELECT doc_id, n_url, n_email,
                      len(regexp_extract_all(t,
                        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
                      regexp_replace(t,
                        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                        '<IP>', 'g') AS t
               FROM s2)
        SELECT doc_id,
               regexp_replace(t, '\b\d{7,}\b', '<NUM>', 'g') AS text_scrubbed,
               n_url, n_email, n_ip,
               len(regexp_extract_all(t, '\b\d{7,}\b')) AS n_long_number
        FROM s3
    """
    o["text_repetition_stats"] = r"""
        WITH toks AS (SELECT doc_id,
                             unnest(string_split_regex(trim(text), '\s+')) AS tok
                      FROM documents),
        tc AS (SELECT doc_id, tok, count(*) AS c FROM toks
               WHERE tok <> '' GROUP BY 1, 2),
        ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                      count(*) AS distinct_tokens, max(c) AS max_tok
               FROM tc GROUP BY 1),
        gr AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
               FROM (SELECT doc_id,
                            list_filter(
                                string_split_regex(trim(text), '\s+'),
                                x -> x <> '') AS t
                     FROM documents),
                    UNNEST(generate_series(1, len(t) - 1)) u(i)),
        gc AS (SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY 1, 2),
        gs AS (SELECT doc_id, max(c) AS max_gram FROM gc GROUP BY 1)
        -- anchored on the INPUT ids, like the operator: a NULL or
        -- whitespace-only document has no token rows but must still
        -- be scored (all-zeros) — un-scored docs would silently pass
        -- a stats-join filter pipeline
        SELECT d.doc_id,
               COALESCE(n_tokens, 0) AS n_tokens,
               COALESCE(distinct_tokens, 0) AS distinct_tokens,
               COALESCE(round(1.0 - distinct_tokens
                              / CAST(n_tokens AS DOUBLE), 4), 0.0)
                 AS dup_token_frac,
               COALESCE(round(max_tok / CAST(n_tokens AS DOUBLE), 4), 0.0)
                 AS top_token_frac,
               CASE WHEN n_tokens IS NULL THEN 0.0
                    ELSE round(LEAST(COALESCE(max_gram, 0) * 2
                                     / CAST(n_tokens AS DOUBLE), 1.0), 4)
               END AS top_bigram_frac
        FROM documents d
        LEFT JOIN ts ON d.doc_id = ts.doc_id
        LEFT JOIN gs ON d.doc_id = gs.doc_id
    """
    o["decontaminate_train"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '') AS t
                    FROM documents),
        sh AS (SELECT DISTINCT doc_id,
                      t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]
                        AS s
               FROM tk, UNNEST(generate_series(1, len(t) - 4)) u(i)),
        ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 20 = 0),
        cont AS (SELECT DISTINCT doc_id FROM sh
                 WHERE doc_id % 20 <> 0 AND s IN (SELECT s FROM ev))
        SELECT doc_id, source, lang FROM documents
        WHERE doc_id % 20 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM cont)
    """
    o["decontaminate_bloom"] = o["decontaminate_train"]
    # r13 (gram identity r14: full-md5 keys, see dedup_substring):
    # span-level decontamination — positioned train 5-grams probed
    # against the DISTINCT eval gram set, covered positions
    # island-merged exactly as dedup_substring
    o["decontaminate_spans"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '') AS t
                    FROM documents),
        g AS (SELECT doc_id, i AS pos,
                     md5(array_to_string(t[i:i+4], ' ')) AS gm
              FROM tk, UNNEST(generate_series(1, len(t) - 4)) u(i)
              WHERE len(t) >= 5),
        ev AS (SELECT DISTINCT gm FROM g WHERE doc_id % 20 = 0),
        cov AS (SELECT doc_id, pos FROM g
                WHERE doc_id % 20 <> 0 AND gm IN (SELECT gm FROM ev)),
        isl AS (SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER w IS NULL
                                 OR pos - lag(pos) OVER w > 5
                            THEN 1 ELSE 0 END AS brk
                FROM cov WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                        SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                       ROWS UNBOUNDED PRECEDING) AS island
                 FROM isl),
        spans AS (SELECT doc_id,
                         MIN(pos) AS span_start,
                         MAX(pos) + 4 AS span_end,
                         COUNT(*) AS n_dup_grams
                  FROM isl2 GROUP BY doc_id, island)
        SELECT s.doc_id,
               CAST(span_start AS BIGINT) AS span_start,
               CAST(span_end AS BIGINT) AS span_end,
               CAST(span_end - span_start + 1 AS BIGINT) AS span_tokens,
               CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
               array_to_string(t[span_start:span_end], ' ') AS span_text
        FROM spans s JOIN tk USING (doc_id)
    """

    o["corpus_shuffle"] = """
        SELECT doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || '_shuffle1'),
                                   1, 16), doc_id) AS BIGINT) AS shuffle_rank
        FROM documents
    """

    # r12 (sorted-fold total r13): temperature mixture — POWER/div
    # in the same op order, one round(6) pin; the MAX() OVER ()
    # normalizer mirrors the single-partition window. The total is
    # the SAME ascending-sorted sequential fold as the operator
    # (list_reduce over LIST(p ORDER BY p) with a prepended 0.0 —
    # a bare SUM of doubles adds in an engine-chosen merge order)
    o["mixture_temperature"] = """
        WITH c AS (SELECT source, COUNT(*) AS n_docs
                   FROM documents GROUP BY 1),
             t AS (SELECT list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           LIST(POWER(CAST(n_docs AS DOUBLE), 0.5)
                                ORDER BY POWER(CAST(n_docs AS DOUBLE),
                                               0.5))),
                       (acc, x) -> acc + x)
                       AS tot FROM c)
        SELECT source, n_docs,
               round(POWER(CAST(n_docs AS DOUBLE), 0.5) / tot, 6)
                   AS share,
               round((POWER(CAST(n_docs AS DOUBLE), 0.5) / tot
                      / CAST(n_docs AS DOUBLE))
                     / MAX(POWER(CAST(n_docs AS DOUBLE), 0.5) / tot
                           / CAST(n_docs AS DOUBLE)) OVER (), 6)
                   AS keep_frac
        FROM c, t
    """

    o["sample_mixture"] = f"""
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   CAST('0x' || substr(md5(doc_id || '_mix1'), 1, 7) AS BIGINT)
                     AS h
            FROM documents)
        WHERE h < CASE source WHEN 'src0' THEN {int(0.5 * 16**7)}
                              WHEN 'src1' THEN {int(0.25 * 16**7)}
                              ELSE {16**7} END
    """
    # coalesce + zero-token mirror (curation.chunk_documents): a NULL/
    # empty/whitespace doc yields exactly one ('', 0) chunk — without
    # the coalesce the NULL doc vanished into a (NULL, 40) row, and
    # split('') = [''] budgeted a phantom token per empty doc
    o["chunk_documents"] = r"""
        WITH tk AS (SELECT doc_id,
                           list_filter(
                               string_split_regex(trim(coalesce(text, '')),
                                                  '\s+'),
                               x -> x <> '') AS t
                    FROM documents)
        SELECT doc_id,
               CAST((i - 1) // 32 AS BIGINT) AS chunk_id,
               COALESCE(array_to_string(t[i:least(i + 39, len(t))], ' '),
                        '') AS chunk_text,
               CAST(CASE WHEN array_to_string(t, '') = '' THEN 0
                         ELSE least(len(t) - i + 1, 40) END AS BIGINT)
                 AS n_chunk_tokens
        FROM tk, UNNEST(generate_series(1, greatest(len(t) - 8, 1), 32)) u(i)
    """
    o["remove_repeated_segments"] = r"""
        WITH tk AS (SELECT doc_id,
                           string_split_regex(trim(coalesce(text, '')), '\s+')
                             AS t
                    FROM documents),
        segs AS (
            SELECT doc_id,
                   CAST((u.i - 1) // 10 AS INT) AS seg_idx,
                   array_to_string(t[u.i:least(u.i + 9, len(t))], ' ')
                     AS segment
            FROM tk, UNNEST(generate_series(1, len(t), 10)) u(i)),
        hashed AS (SELECT doc_id, seg_idx, segment, md5(segment) AS seg_hash
                   FROM segs),
        freq AS (SELECT seg_hash, COUNT(DISTINCT doc_id) AS seg_docs
                 FROM hashed GROUP BY 1)
        SELECT doc_id,
               string_agg(segment, ' ' ORDER BY seg_idx) AS clean_text,
               COUNT(*) AS n_kept_segments
        FROM hashed JOIN freq USING (seg_hash)
        WHERE seg_docs < 2
        GROUP BY doc_id
    """
    o["pack_sequences"] = f"""
        WITH chunks AS ({o['chunk_documents']})
        SELECT doc_id, chunk_id,
               CAST('0x' || substr(md5(doc_id || '_pack'), 1, 7) AS BIGINT)
                 % 16 AS pack_group,
               CAST(COALESCE(SUM(n_chunk_tokens) OVER (
                   PARTITION BY CAST('0x' || substr(md5(doc_id || '_pack'),
                                     1, 7) AS BIGINT) % 16
                   ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) // 120 AS seq_id
        FROM chunks
    """
    o["geo_region_counts"] = """
        SELECT CASE
                 WHEN c_acctbal > 0.005 AND c_acctbal < 5000.005
                  AND c_nationkey > -0.5 AND c_nationkey < 12.5 THEN 'low_a'
                 WHEN c_acctbal > 5000.005 AND c_acctbal < 9999.005
                  AND c_nationkey > -0.5 AND c_nationkey < 12.5 THEN 'high_a'
                 WHEN c_acctbal > 0.005 AND c_acctbal < 9999.005
                  AND c_nationkey > 12.5 AND c_nationkey < 24.5 THEN 'upper'
               END AS region, COUNT(*) AS cnt
        FROM customer
        WHERE isfinite(c_acctbal) AND isfinite(c_nationkey)
          AND region IS NOT NULL
        GROUP BY 1
    """
    # convex-polygon containment as half-plane inequalities: point
    # strictly inside a CCW polygon iff every edge's cross product
    # (x2-x1)(py-y1) - (y2-y1)(px-x1) > 0. Edge margins >= 0.005 on
    # the data lattice make the two formulations (SQL half-planes vs
    # the operator's numpy ray cast) agree exactly. CASE order = the
    # operator's first-region-wins order.
    def _halfplanes(verts) -> str:
        n = len(verts)
        terms = []
        for i in range(n):
            x1, y1 = verts[i]
            x2, y2 = verts[(i + 1) % n]
            # explicit DOUBLE casts: DuckDB would otherwise parse the
            # long float literals as DECIMAL and overflow the product
            terms.append(
                f"(CAST({x2 - x1!r} AS DOUBLE)"
                f" * (CAST(c_nationkey AS DOUBLE) - CAST({y1!r} AS DOUBLE))"
                f" - CAST({y2 - y1!r} AS DOUBLE)"
                f" * (CAST(c_acctbal AS DOUBLE) - CAST({x1!r} AS DOUBLE))) > 0"
            )
        return " AND ".join(terms)

    _whens = " ".join(
        f"WHEN {_halfplanes(verts)} THEN '{name}'"
        for name, verts in GEO_POLYGON_REGIONS
    )
    o["geo_polygon_counts"] = f"""
        SELECT region, COUNT(*) AS cnt
        FROM (
            SELECT CASE {_whens}
                   END AS region
            FROM customer
            WHERE isfinite(c_acctbal) AND isfinite(c_nationkey)
        )
        WHERE region IS NOT NULL
        GROUP BY 1
    """

    # media dims re-derived arithmetically: synthesize_media pins
    # w = 1 + doc_id % 13, h = 1 + doc_id % 7, PNG for even ids /
    # baseline JPEG for odd — the Spark side must round-trip real
    # encoded bytes through the header probes to agree.
    # closed-form twin of synthesize_media's six containers (r9): the
    # Spark side must ENCODE real bytes and header-PARSE them back,
    # so a corrupted encoder or prober (incl. the MP3 frame walk and
    # the H.264 SPS Exp-Golomb reader) surfaces as a gate mismatch
    o["media_dims_histogram"] = """
        SELECT CASE abs(doc_id) % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    WHEN 2 THEN 'gif' WHEN 3 THEN 'bmp'
                    WHEN 4 THEN 'mp3' ELSE 'h264' END AS kind,
               CAST(CASE WHEN abs(doc_id) % 6 = 4 THEN 44100
                         WHEN abs(doc_id) % 6 = 5
                           THEN 16 * (1 + abs(doc_id) % 8)
                         ELSE 1 + abs(doc_id) % 13 END AS INT) AS width,
               CAST(CASE WHEN abs(doc_id) % 6 = 4 THEN 2
                         WHEN abs(doc_id) % 6 = 5
                           THEN 16 * (1 + abs(doc_id) % 4)
                         ELSE 1 + abs(doc_id) % 7 END AS INT) AS height,
               COUNT(*) AS cnt
        FROM documents
        GROUP BY 1, 2, 3
    """

    o["asof_join_events"] = """
        WITH clicks AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'click'),
        errors AS (SELECT user_id, ts,
                          CAST(max(CAST(CASE WHEN isfinite(value)
                                             THEN value END
                                        AS DECIMAL(18,6))) AS DOUBLE)
                            AS err_value
                   FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
               COALESCE(epoch_us(e.ts), -1) AS err_ts_us,
               COALESCE(e.err_value, -1.0) AS err_value_r
        FROM (SELECT * FROM clicks WHERE ts IS NOT NULL) c
        ASOF LEFT JOIN errors e
          ON c.user_id = e.user_id AND c.ts >= e.ts
        UNION ALL
        -- a NULL left time satisfies no as-of predicate: the row is
        -- kept with the no-match sentinels. DuckDB's ASOF binary
        -- search would otherwise sort the NULL ts LAST and hand it
        -- the user's latest error row.
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               -1 AS err_ts_us, -1.0 AS err_value_r
        FROM clicks WHERE ts IS NULL
    """
    o["histogram_singleton"] = """
        WITH rng AS (SELECT min(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END) mn,
                            max(CASE WHEN isfinite(p_retailprice) THEN p_retailprice END) mx
                     FROM part),
        counted AS (
          SELECT CAST(least(greatest(CAST(floor((p_retailprice - mn)
                   / ((mx - mn) / 100.0)) AS BIGINT), 0), 99) AS INT) AS bucket,
                 COUNT(*) AS cnt, min(p_retailprice) AS mnv
          FROM part, rng WHERE isfinite(p_retailprice) GROUP BY 1)
        SELECT CAST(s.i AS INT) AS bucket, COALESCE(c.cnt, 0) AS cnt,
               CASE WHEN c.cnt = 1 THEN c.mnv END AS singleton
        FROM generate_series(0, 99) s(i)
        LEFT JOIN counted c ON c.bucket = s.i
    """
    o["string_columns_filter"] = """
        SELECT doc_id FROM documents
        WHERE contains(lower(text), 'merge') OR contains(lower(source), 'merge')
    """
    o["row_comparison_filter"] = """
        -- record order '<' with missing-sorts-LAST (reference
        -- semantics): NULL is the maximum, so NULL keys are correctly
        -- excluded by the plain < comparisons (SQL NULL -> not kept)
        SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
        FROM lineitem
        WHERE (l_returnflag < 'N')
           OR (l_returnflag = 'N' AND l_linestatus < 'F')
    """
    o["quantized_histogram"] = """
        -- out-of-range quantizes to MISSING (reference bucketIndex
        -- -1); value == hi stays in the last bucket (closed max)
        WITH q AS (SELECT 900.0 + least(greatest(
                     floor((CAST(l_extendedprice AS DOUBLE) - 900.0)
                           / ((105000.0 - 900.0) / 16)), 0), 15)
                   * ((105000.0 - 900.0) / 16) AS q_price
                   FROM lineitem WHERE isfinite(l_extendedprice)
                     AND l_extendedprice >= 900.0
                     AND l_extendedprice <= 105000.0)
        SELECT q_price, COUNT(*) AS cnt FROM q GROUP BY 1
    """
    # NULL tuples RANK LAST (the record order's missing-is-greatest,
    # r10) instead of dropping; the boundary tuple rides a struct so
    # a NULL field survives arg_min (bare arg_min skips NULL values)
    o["row_quantiles"] = """
        WITH d AS (SELECT DISTINCT c_nationkey, c_name FROM customer),
        r AS (SELECT c_nationkey, c_name,
                     row_number() OVER (ORDER BY c_nationkey NULLS LAST,
                                        c_name NULLS LAST) - 1 AS rnk,
                     count(*) OVER () AS n
              FROM d),
        b AS (SELECT CAST((rnk * 8) // n AS INT) AS bucket,
                     arg_min(struct_pack(k := c_nationkey, nm := c_name),
                             rnk) AS t
              FROM r GROUP BY 1)
        SELECT bucket, t.k AS c_nationkey, t.nm AS c_name FROM b
    """

    # --- text analysis ---------------------------------------------------
    o["text_token_count"] = r"""
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS ws_tokens,
               len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS bpe_tokens,
               length(text) AS n_chars
        FROM documents
    """
    o["text_quality_score"] = r"""
        WITH x AS (SELECT doc_id,
            GREATEST(length(text), 1) AS n_chars,
            CASE WHEN text IS NULL THEN NULL ELSE len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) END AS n_tokens,
            len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS punct,
            len(regexp_extract_all(lower(text),
                '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS stop
          FROM documents)
        SELECT doc_id, n_tokens,
          round(CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1), 4) AS stopword_ratio,
          round(CAST(punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
          round((least(CAST(stop AS DOUBLE) / GREATEST(n_tokens, 1) * 2, 1.0)
                 + 1.0 / (1.0 + CAST(punct AS DOUBLE) / n_chars * 10)
                 + CAST(least(n_tokens, 200) AS DOUBLE) / 200.0) / 3.0, 4) AS quality
        FROM x
    """
    o["text_lang_id"] = r"""
        WITH x AS (SELECT doc_id,
            len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk,
            len(regexp_extract_all(lower(text), '\b(the|a|an|and|of|to|in|is|it|for)\b')) AS en,
            len(regexp_extract_all(lower(text), '\b(le|la|les|et|de|un|une|est|dans)\b')) AS fr,
            len(regexp_extract_all(lower(text), '\b(el|los|las|y|de|un|una|es|en)\b')) AS es,
            len(regexp_extract_all(lower(text), '\b(der|die|das|und|ein|eine|ist|zu)\b')) AS de
          FROM documents)
        SELECT doc_id,
          CASE WHEN cjk > 0 THEN 'zh'
               WHEN en >= fr AND en >= es AND en >= de AND en > 0 THEN 'en'
               WHEN fr >= es AND fr >= de AND fr > 0 THEN 'fr'
               WHEN es >= de AND es > 0 THEN 'es'
               WHEN de > 0 THEN 'de'
               ELSE 'unknown' END AS lang_pred
        FROM x
    """

    # --- streaming-semantics (batch-checkable) ---------------------------
    o["events_windowed_counts"] = """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """
    # streaming twins, hash-oracled (r7): identical SQL to the batch
    # releases (count-only; the watermark drops NULL event times)
    o["events_windowed_counts_stream"] = """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """
    # r11: distinct-entity windows. COUNT(DISTINCT ...) skips NULL
    # entities in both engines; the stream twin additionally drops
    # NULL event times (watermark) — same declared divergence as
    # every twin pair above.
    o["events_windowed_distinct"] = """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(DISTINCT user_id) AS n_distinct
        FROM events GROUP BY 1, 2
    """
    o["events_windowed_distinct_stream"] = """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type, COUNT(DISTINCT user_id) AS n_distinct
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """
    # r11: retention triangle — NULL users/times excluded (identity/
    # position rule); act is distinct per (user, day) so COUNT(*) is
    # the distinct-user count in both engines
    o["events_cohort_retention"] = """
        WITH base AS (
            SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        first AS (SELECT u, MIN(day) AS cohort FROM base GROUP BY 1)
        SELECT cohort,
               CAST(day - cohort AS BIGINT) AS day_offset,
               COUNT(*) AS n_users
        FROM base JOIN first USING (u) GROUP BY 1, 2
    """
    # r11: normalized retention — the triangle joined to its own
    # offset-0 cohort sizes; one double division of exact longs
    o["events_retention_rate"] = f"""
        WITH tri AS ({o['events_cohort_retention']})
        SELECT t.cohort, t.day_offset, t.n_users,
               round(CAST(t.n_users AS DOUBLE)
                     / CAST(s.n_users AS DOUBLE), 4) AS retention
        FROM tri t JOIN tri s
          ON t.cohort = s.cohort AND s.day_offset = 0
    """
    # r11: time-to-convert — funnel depth 2 measured: first to_step
    # strictly after the user's first from_step, exact micros / 1e6,
    # quantile_cont parity over converting users
    o["events_conversion_time"] = """
        WITH base AS (
            SELECT user_id AS u, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), f AS (
            SELECT u, MIN(us) AS t0 FROM base
            WHERE event_type = 'click' GROUP BY 1
        ), c AS (
            SELECT b.u,
                   CAST(MIN(b.us) - MIN(f.t0) AS DOUBLE) / 1000000.0
                       AS gap
            FROM base b JOIN f USING (u)
            WHERE b.event_type = 'purchase' AND b.us > f.t0
            GROUP BY 1
        )
        SELECT COUNT(*) AS n_converted,
               round(quantile_cont(gap, 0.5), 4) AS q50,
               round(quantile_cont(gap, 0.9), 4) AS q90
        FROM c
    """
    # r11: rolling actives — DISTINCT (user, day) explodes into its
    # trailing-window member days; anchor join keeps active days only
    o["events_rolling_actives"] = """
        WITH act AS (
            SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ), member AS (
            SELECT u, day + CAST(i.i AS INT) AS day
            FROM act, generate_series(0, 6) i(i)
        ), anchors AS (SELECT DISTINCT day FROM act)
        SELECT m.day, COUNT(DISTINCT m.u) AS active_users
        FROM member m JOIN anchors USING (day)
        GROUP BY 1
    """
    # r11: ordered funnel — step k's first completion must be
    # STRICTLY after step k-1's; NULL users/times excluded
    o["events_funnel"] = """
        WITH base AS (
            SELECT user_id AS u, event_type, ts
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        s1 AS (SELECT u, MIN(ts) AS t FROM base
               WHERE event_type = 'click' GROUP BY 1),
        s2 AS (SELECT b.u, MIN(b.ts) AS t FROM base b JOIN s1 USING (u)
               WHERE b.event_type = 'view' AND b.ts > s1.t GROUP BY 1),
        s3 AS (SELECT b.u, MIN(b.ts) AS t FROM base b JOIN s2 USING (u)
               WHERE b.event_type = 'purchase' AND b.ts > s2.t GROUP BY 1)
        SELECT 1 AS step, 'click' AS event_type, COUNT(*) AS n_users FROM s1
        UNION ALL
        SELECT 2, 'view', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'purchase', COUNT(*) FROM s3
    """
    # r11: per-window exact percentiles — the quantiles_price parity
    # mechanism (percentile == quantile_cont, round 4) per cell;
    # non-finite readings are missing (engine-wide rule)
    o["events_windowed_quantiles"] = """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
               event_type,
               round(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.5), 4) AS q50,
               round(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.9), 4) AS q90,
               round(quantile_cont(CASE WHEN isfinite(value) THEN value END, 0.99), 4) AS q99
        FROM events GROUP BY 1, 2
    """
    # r11: trailing-baseline volume anomaly — mean/variance from
    # EXACT integer frame sums in fixed-shape double expressions
    # (IEEE-correctly-rounded ops only, no transcendentals), so both
    # engines produce bit-identical doubles; NULL ts excluded
    # (identity/position rule)
    o["events_windowed_anomaly"] = """
        WITH cells AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
                   event_type, COUNT(*) AS n_events
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), fr AS (
            SELECT window_start, event_type, n_events,
                   CAST(COUNT(*) OVER w AS BIGINT) AS cnt,
                   CAST(SUM(n_events) OVER w AS DOUBLE) AS sm,
                   CAST(SUM(CAST(n_events AS DECIMAL(19,0))
                            * CAST(n_events AS DECIMAL(19,0)))
                        OVER w AS DOUBLE) AS sq
            FROM cells
            WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                         ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
        )
        SELECT window_start, event_type, n_events,
               CASE WHEN cnt >= 3
                    THEN sm / CAST(cnt AS DOUBLE) END AS baseline_mean,
               CASE WHEN cnt >= 3 AND GREATEST(
                        (sq - (sm * sm) / CAST(cnt AS DOUBLE))
                            / (CAST(cnt AS DOUBLE) - 1.0), 0.0) > 0.0
                    THEN (CAST(n_events AS DOUBLE)
                          - sm / CAST(cnt AS DOUBLE))
                         / SQRT(GREATEST(
                               (sq - (sm * sm) / CAST(cnt AS DOUBLE))
                                   / (CAST(cnt AS DOUBLE) - 1.0), 0.0))
               END AS z_score
        FROM fr
    """
    # r11: transition matrix — typed events only (a NULL type inside
    # a sequence is indistinguishable from lead()'s end-of-sequence
    # NULL); ties on ts order by the unique event_id so both engines
    # see the same total order
    o["events_transitions"] = """
        WITH typed AS (
            SELECT user_id AS u, event_id, ts,
                   event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND event_type IS NOT NULL
        )
        SELECT from_type, to_type, COUNT(*) AS n_transitions
        FROM typed WHERE to_type IS NOT NULL GROUP BY 1, 2
    """
    # r11: depth-3 paths — transition rules at depth 3 (chained leads
    # over the same user window)
    o["events_paths"] = """
        WITH typed AS (
            SELECT event_type AS step_1,
                   LEAD(event_type, 1) OVER w AS step_2,
                   LEAD(event_type, 2) OVER w AS step_3
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND event_type IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT step_1, step_2, step_3, COUNT(*) AS n_paths
        FROM typed WHERE step_3 IS NOT NULL GROUP BY 1, 2, 3
    """
    # r11: inter-event gap percentiles — exact integer micros / the
    # literal 1e6 (one double division), then quantile_cont parity
    o["events_gap_quantiles"] = """
        WITH typed AS (
            SELECT user_id AS u, event_id,
                   event_type AS from_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND event_type IS NOT NULL
        ), g AS (
            SELECT from_type,
                   CAST(LEAD(us) OVER (
                       PARTITION BY u ORDER BY us, event_id) - us
                       AS DOUBLE) / 1000000.0 AS gap
            FROM typed
        )
        SELECT from_type, COUNT(*) AS n_gaps,
               round(quantile_cont(gap, 0.5), 4) AS q50,
               round(quantile_cont(gap, 0.9), 4) AS q90
        FROM g WHERE gap IS NOT NULL GROUP BY 1
    """
    # r11: per-window top-k — (n DESC, value IS NULL, value) is a
    # total order identical in both engines (bare value asc would put
    # the NULL cell FIRST in Spark, LAST in DuckDB)
    o["events_windowed_topk"] = """
        WITH cells AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type AS value, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT window_start, value, n, rank FROM (
            SELECT window_start, value, n,
                   CAST(row_number() OVER (
                       PARTITION BY window_start
                       ORDER BY n DESC, (value IS NULL), value
                   ) AS INT) AS rank
            FROM cells)
        WHERE rank <= 3
    """
    # r12: the ties='keep' sibling — competition rank() over count
    # alone, so every value tied with the k-th survives; rank over a
    # non-unique order is deterministic BECAUSE rank() (unlike
    # row_number) assigns tied rows identically in both engines
    o["events_windowed_topk_keep"] = """
        WITH cells AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type AS value, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT window_start, value, n, rank FROM (
            SELECT window_start, value, n,
                   CAST(rank() OVER (
                       PARTITION BY window_start ORDER BY n DESC
                   ) AS INT) AS rank
            FROM cells)
        WHERE rank <= 3
    """
    # r11: corpus snapshot diff — presence flags (not id NULL-ness)
    # pick the side, so a NULL-id row classifies from its own side
    # exactly as the operator's full-outer USING join does; content
    # equality is NULL-SAFE md5
    o["corpus_diff"] = """
        WITH old AS (
            SELECT doc_id, md5(text) AS fp, TRUE AS in_old
            FROM documents WHERE doc_id % 3 <> 0
        ), new AS (
            SELECT doc_id,
                   md5(CASE WHEN doc_id % 7 = 0
                            THEN concat_ws(' ', text, 'v2')
                            ELSE text END) AS fp,
                   TRUE AS in_new
            FROM documents WHERE doc_id % 5 <> 0
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.in_old IS NULL THEN 'added'
                    WHEN n.in_new IS NULL THEN 'removed'
                    WHEN o.fp IS NOT DISTINCT FROM n.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    """
    # dp_windowed_counts: the md5-PRF cell noise is engine-portable —
    # DuckDB rebuilds the identical 52-bit uniform ('0x'+13 hex digits
    # of md5("secs|type|wcounts|seed"); 'wcounts' is the mechanism
    # domain tag separating this release from dp_windowed_histogram's
    # 'whist' under a shared seed) and the identical inverse-CDF op
    # order (SecureLaplace.java:62-69); LN is within 1 ulp
    # cross-library and the FLOOR'd integer release absorbs it, so the
    # noisy counts hash-match. scale = 1/epsilon = 1.0, seed = 7.
    o["dp_windowed_counts"] = f"""
        WITH counts AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type, COUNT(*) AS n_events
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, event_type, n_events,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('event_type')}
                           || '|wcounts|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM counts
        )
        SELECT window_start, event_type,
               CAST(FLOOR(CAST(n_events AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_events
        FROM unif
    """
    # the streaming twin releases the identical noisy cells
    o["dp_windowed_counts_stream"] = o["dp_windowed_counts"]
    # r12: continual bounded SUM — the clip expression mirrors
    # dp_windowed_sum exactly (present-FINITE gate wraps the clamp;
    # NULL/non-finite skip; DECIMAL(20,6) order-independent sum;
    # all-missing cell -> 0), the draw is the same md5 recipe under
    # the 'wsum' tag at scale = max(|lo|,|hi|)/epsilon = 250, and the
    # FLOOR'd integer release absorbs the LN ulp as always.
    o["dp_windowed_sum"] = f"""
        WITH sums AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type,
                   CAST(COALESCE(SUM(CAST(
                       CASE WHEN isfinite(value)
                            THEN LEAST(GREATEST(
                                     CAST(value AS DOUBLE), 0.0), 250.0)
                            END AS DECIMAL(20,6))), 0) AS DOUBLE)
                       AS sum_clipped
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, event_type, sum_clipped,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('event_type')}
                           || '|wsum|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM sums
        )
        SELECT window_start, event_type,
               CAST(FLOOR(sum_clipped
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(250.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 250.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_sum
        FROM unif
    """
    o["dp_windowed_sum_stream"] = o["dp_windowed_sum"]
    # r13: continual bounded MEAN — the same cell shape computing
    # BOTH aggregates, each component noised from dp_windowed_mean's
    # OWN domain tags ('wmsum' at scale 2*250/eps = 500, 'wmcnt' at
    # 2/eps = 2 — the eps/2 ratio composition), FLOOR'd to integers,
    # and the mean re-derived as their exact IEEE ratio (NULL when
    # the noisy count lands <= 0)
    o["dp_windowed_mean"] = f"""
        WITH cells AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type,
                   CAST(COALESCE(SUM(CAST(
                       CASE WHEN isfinite(value)
                            THEN LEAST(GREATEST(
                                     CAST(value AS DOUBLE), 0.0), 250.0)
                            END AS DECIMAL(20,6))), 0) AS DOUBLE)
                       AS sum_clipped,
                   COUNT(*) AS n_events
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, event_type, sum_clipped, n_events,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('event_type')}
                           || '|wmsum|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS us,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('event_type')}
                           || '|wmcnt|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS uc
            FROM cells
        ), released AS (
            SELECT window_start, event_type,
                   CAST(FLOOR(sum_clipped
                        + (CASE WHEN 0.5 - us < 0
                                THEN -(500.0) * LN(1.0 - 2.0 * (us - 0.5))
                                ELSE 500.0 * LN(1.0 - 2.0 * (0.5 - us)) END)
                        + 0.5) AS BIGINT) AS noisy_sum,
                   CAST(FLOOR(CAST(n_events AS DOUBLE)
                        + (CASE WHEN 0.5 - uc < 0
                                THEN -(2.0) * LN(1.0 - 2.0 * (uc - 0.5))
                                ELSE 2.0 * LN(1.0 - 2.0 * (0.5 - uc)) END)
                        + 0.5) AS BIGINT) AS noisy_count
            FROM unif
        )
        SELECT window_start, event_type, noisy_sum, noisy_count,
               CASE WHEN noisy_count > 0
                    THEN CAST(noisy_sum AS DOUBLE)
                         / CAST(noisy_count AS DOUBLE) END AS noisy_mean
        FROM released
    """
    o["dp_windowed_mean_stream"] = o["dp_windowed_mean"]
    # r13: private DAU — the continual DISTINCT release under the
    # 'wdist' tag at event-level sensitivity 1; countDistinct skips
    # NULL entities in both engines, NULL-ts rows drop
    o["dp_windowed_distinct"] = f"""
        WITH cells AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type, COUNT(DISTINCT user_id) AS n_distinct
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, event_type, n_distinct,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('event_type')}
                           || '|wdist|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM cells
        )
        SELECT window_start, event_type,
               CAST(FLOOR(CAST(n_distinct AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_distinct
        FROM unif
    """
    o["dp_windowed_distinct_stream"] = o["dp_windowed_distinct"]
    # r14: continual unknown-domain trending — per-(window, value)
    # noisy counts under the 'wtrend' tag, released only above
    # tau = 1 + 2 ln(2/delta)/eps + 0.5 (the stability-histogram
    # threshold); NULL values are not a domain element, NULL-ts
    # rows drop. The SELECT filters on the ROUNDED integer release,
    # exactly as the operator does.
    o["dp_windowed_trending"] = f"""
        WITH cells AS (
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP)
                       AS window_start,
                   event_type AS value, COUNT(*) AS n_events
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, value, n_events,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('value')}
                           || '|wtrend|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM cells
        ), rel AS (
            SELECT window_start, value,
                   CAST(FLOOR(CAST(n_events AS DOUBLE)
                        + (CASE WHEN 0.5 - u < 0
                                THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                                ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                        + 0.5) AS BIGINT) AS noisy_count
            FROM unif
        )
        SELECT window_start, value, noisy_count FROM rel
        WHERE noisy_count > {1.0 + 2.0 * _math.log(2.0 / 0.05) / 1.0 + 0.5!r}
    """
    o["dp_windowed_trending_stream"] = o["dp_windowed_trending"]
    # r15: user-level DP windowed counts — the deterministic
    # contribution bound re-derived in SQL (salted_hex rank per
    # (user, hour) then per-user window keep-set under salt+'w'),
    # then the wcounts recipe under the composed family's own
    # 'uwcnt' tag (a shared tag would let capped-minus-uncapped
    # cancel the noise). NULL users pool as ONE capped group (window
    # PARTITION BY groups NULLs in both engines; the keep-set join
    # is null-safe on user).
    o["dp_windowed_counts_user_level"] = f"""
        WITH ranked AS (
            SELECT event_id, user_id, event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY CAST('0x' || substr(md5(
                           CAST(event_id AS VARCHAR) || '_bound1'),
                           1, 7) AS BIGINT), event_id
                   ) AS rk
            FROM events WHERE ts IS NOT NULL
        ), bounded AS (
            SELECT * FROM ranked WHERE rk <= 1
        ), wranked AS (
            SELECT user_id, win,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST('0x' || substr(md5(
                           CAST(CAST(epoch(win) AS BIGINT) AS VARCHAR)
                           || '_bound1w'), 1, 7) AS BIGINT), win
                   ) AS wrk
            FROM (SELECT DISTINCT user_id, win FROM bounded)
        ), kept AS (
            SELECT b.win, b.event_type FROM bounded b
            JOIN wranked w ON b.user_id IS NOT DISTINCT FROM w.user_id
                          AND b.win = w.win AND w.wrk <= 56
        ), counts AS (
            SELECT win AS window_start, event_type,
                   COUNT(*) AS n_events
            FROM kept GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, event_type, n_events,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('event_type')}
                           || '|uwcnt|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM counts
        )
        SELECT window_start, event_type,
               CAST(FLOOR(CAST(n_events AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_events
        FROM unif
    """
    # r15 late block: user-level private trending — the same
    # deterministic bound (day windows, k=1, max_windows=20), then
    # the trending recipe under 'uwtrend' at eps=2 (scale 0.5),
    # delta=0.05, thresholded on the rounded release.
    o["dp_windowed_trending_user_level"] = f"""
        WITH ranked AS (
            SELECT event_id, user_id, event_type,
                   CAST(date_trunc('day', ts) AS TIMESTAMP) AS win,
                   row_number() OVER (
                       PARTITION BY user_id, date_trunc('day', ts)
                       ORDER BY CAST('0x' || substr(md5(
                           CAST(event_id AS VARCHAR) || '_bound1'),
                           1, 7) AS BIGINT), event_id
                   ) AS rk
            FROM events WHERE ts IS NOT NULL
        ), bounded AS (
            SELECT * FROM ranked WHERE rk <= 1
        ), wranked AS (
            SELECT user_id, win,
                   row_number() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST('0x' || substr(md5(
                           CAST(CAST(epoch(win) AS BIGINT) AS VARCHAR)
                           || '_bound1w'), 1, 7) AS BIGINT), win
                   ) AS wrk
            FROM (SELECT DISTINCT user_id, win FROM bounded)
        ), kept AS (
            SELECT b.win, b.event_type FROM bounded b
            JOIN wranked w ON b.user_id IS NOT DISTINCT FROM w.user_id
                          AND b.win = w.win AND w.wrk <= 20
        ), cells AS (
            SELECT win AS window_start, event_type AS value,
                   COUNT(*) AS n_events
            FROM kept WHERE event_type IS NOT NULL GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, value, n_events,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('value')}
                           || '|uwtrend|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM cells
        ), rel AS (
            SELECT window_start, value,
                   CAST(FLOOR(CAST(n_events AS DOUBLE)
                        + (CASE WHEN 0.5 - u < 0
                                THEN -(0.5) * LN(1.0 - 2.0 * (u - 0.5))
                                ELSE 0.5 * LN(1.0 - 2.0 * (0.5 - u)) END)
                        + 0.5) AS BIGINT) AS noisy_count
            FROM unif
        )
        SELECT window_start, value, noisy_count FROM rel
        WHERE noisy_count > {1.0 + 2.0 * _math.log(2.0 / 0.05) / 2.0 + 0.5!r}
    """
    # r11: DP transition matrix — sensitivity 3 (one event touches up
    # to 2 pairs and its removal can mint 1 between its neighbors),
    # so the Laplace scale is 3.0; the cell key is the escaped
    # (from, to) pair under the 'wtrans' domain tag, seed 7
    o["dp_transitions"] = f"""
        WITH typed AS (
            SELECT user_id AS u, event_id, ts,
                   event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
              AND event_type IS NOT NULL
        ), counts AS (
            SELECT from_type, to_type, COUNT(*) AS n
            FROM typed WHERE to_type IS NOT NULL GROUP BY 1, 2
        ), unif AS (
            SELECT from_type, to_type, n,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('from_type')}
                           || '|' || {_prf_field_sql('to_type')}
                           || '|wtrans|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM counts
        )
        SELECT from_type, to_type,
               CAST(FLOOR(CAST(n AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(3.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 3.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_transitions
        FROM unif
    """
    # stream-stream join twin: the batch attribution pairs minus the
    # derived gap column (the stream emits ids only)
    o["events_click_purchase_stream"] = """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        FROM events c JOIN events p ON c.user_id = p.user_id
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          AND epoch_us(CAST(p.ts AS TIMESTAMP))
              > epoch_us(CAST(c.ts AS TIMESTAMP))
          AND epoch_us(CAST(p.ts AS TIMESTAMP))
              <= epoch_us(CAST(c.ts AS TIMESTAMP)) + 1800000000
    """
    # sliding stream twin: count-only (no sum_value), NULL ts dropped
    # by the watermark; 4 overlapping 15-min-slide windows per event
    o["events_sliding_counts_stream"] = """
        SELECT CAST(make_timestamp(
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000
                 - i.i * 900000000) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n_events
        FROM events CROSS JOIN generate_series(0, 3) i(i)
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """
    # ------------------------------------------------------------------
    # ROWS+SCHEMA-ONLY oracles (VERDICT r5 directive #2): these three
    # keys are iterative / driver-side numeric optimization whose
    # VALUES no SQL engine can re-derive (LAMP per-point affine solve,
    # MDS gradient descent, learned BPE merges). The oracle pins what
    # IS checkable — exact row count and exact schema — so the driver
    # records rows_match=true/schema_match=true instead of a bare
    # err:no_oracle. hash_match=false is EXPECTED BY DESIGN for these
    # three keys (the value columns are intentionally zeroed); pytest
    # owns their value semantics (distance preservation, reference
    # merges).
    o["lamp_project"] = """
        -- rows+schema oracle only: lamp_x/lamp_y are iterative
        -- per-point solves; hash_match=false expected by design
        SELECT p_partkey, CAST(0 AS DOUBLE) AS lamp_x,
               CAST(0 AS DOUBLE) AS lamp_y
        FROM part
    """
    o["metric_mds_controls"] = """
        -- rows+schema oracle only: mds_x/mds_y are gradient-descent
        -- output; hash_match=false expected by design
        SELECT vec_id, CAST(0 AS DOUBLE) AS mds_x,
               CAST(0 AS DOUBLE) AS mds_y
        FROM embeddings ORDER BY vec_id LIMIT 60
    """
    o["bpe_token_count"] = """
        -- rows+schema oracle only: n_bpe_tokens depends on learned
        -- merge ranks; hash_match=false expected by design
        SELECT doc_id, CAST(0 AS BIGINT) AS n_bpe_tokens
        FROM documents
    """

    # dp_prefix_counts: full SQL re-derivation of the continual
    # counter (streaming/events.py:dp_prefix_counts).
    # leaf = hours-since-epoch + 2^19; the k-adic (k=20) decomposition
    # of the prefix [0, leaf+1) is the BASE-20 DIGIT expansion of
    # n = leaf+1 (greedy largest-aligned-block = digit blocks), one
    # md5 draw per node ('seed|type_index|start:size'), noise
    # summed in node order (size desc, start asc) to match the Python
    # spine's sequential sum; scale = ceil(log20 2^20)/eps = 5.0.
    # (The n==20 k-unit-leaves special case can't occur: leaves sit
    # near 2^19.) type_index = first 4 md5 bytes of the type & 2^31-1.
    o["dp_prefix_counts"] = f"""
        WITH pow(p, v) AS (
            VALUES (0, 1), (1, 20), (2, 400), (3, 8000),
                   (4, 160000), (5, 3200000)
        ), counts AS (
            SELECT event_type,
                   CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   COUNT(*) AS n_events
            FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        ), cum AS (
            SELECT event_type, window_start,
                   CAST(epoch(window_start) AS BIGINT) // 3600
                       + 524288 AS leaf,
                   SUM(n_events) OVER (
                       PARTITION BY event_type ORDER BY window_start
                   ) AS cum,
                   CAST(('0x' || substr(md5({_prf_field_sql("event_type")}),
                        1, 8)) AS BIGINT) & 2147483647 AS ci
            FROM counts
        ), nodes AS (
            SELECT c.event_type, c.leaf, c.ci, pl.p, u.i,
                   ((c.leaf + 1) // ph.v) * ph.v + u.i * pl.v AS start,
                   pl.v AS size
            FROM cum c
            JOIN pow pl ON pl.p <= 4
            JOIN pow ph ON ph.p = pl.p + 1
            CROSS JOIN UNNEST(generate_series(0, 18)) u(i)
            WHERE u.i < ((c.leaf + 1) // pl.v) % 20
        ), draws AS (
            SELECT event_type, leaf, p, i,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           '7|' || CAST(ci AS VARCHAR) || '|'
                           || CAST(start AS VARCHAR) || ':'
                           || CAST(size AS VARCHAR)), 1, 13)) AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM nodes
        ), noise AS (
            SELECT event_type, leaf,
                   list_sum(list(
                       CASE WHEN 0.5 - u < 0
                            THEN -(5.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 5.0 * LN(1.0 - 2.0 * (0.5 - u)) END
                       ORDER BY p DESC, i ASC)) AS noise
            FROM draws GROUP BY 1, 2
        )
        SELECT c.event_type, c.window_start,
               CAST(FLOOR(CAST(c.cum AS DOUBLE) + n.noise + 0.5)
                   AS BIGINT) AS noisy_prefix
        FROM cum c JOIN noise n
          ON c.event_type IS NOT DISTINCT FROM n.event_type
         AND c.leaf = n.leaf
    """

    # dp_windowed_histogram: same md5 cell-noise replay as
    # dp_windowed_counts, keyed on (epoch secs, value bucket); the
    # bucket arithmetic mirrors events._value_bucket op-for-op
    # (width = (500-0)/10 = 50.0).
    o["dp_windowed_histogram"] = f"""
        WITH counts AS (
            SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
                       AS window_start,
                   CAST(LEAST(GREATEST(FLOOR(
                       (CAST(value AS DOUBLE) - 0.0) / 50.0), 0), 9)
                       AS INT) AS bucket,
                   COUNT(*) AS n_events
            FROM events
            WHERE ts IS NOT NULL
              AND value >= 0.0 AND value < 500.0
            GROUP BY 1, 2
        ), unif AS (
            SELECT window_start, bucket, n_events,
                   LEAST(GREATEST(
                       CAST(('0x' || substr(md5(
                           {_prf_field_sql('CAST(CAST(epoch(window_start)'
                                           ' AS BIGINT) AS VARCHAR)')}
                           || '|' || {_prf_field_sql('bucket')}
                           || '|whist|7'), 1, 13))
                           AS BIGINT)
                       * POWER(CAST(2.0 AS DOUBLE), -52),
                       POWER(CAST(2.0 AS DOUBLE), -53)),
                       1.0 - POWER(CAST(2.0 AS DOUBLE), -53)) AS u
            FROM counts
        )
        SELECT window_start, bucket,
               CAST(FLOOR(CAST(n_events AS DOUBLE)
                    + (CASE WHEN 0.5 - u < 0
                            THEN -(1.0) * LN(1.0 - 2.0 * (u - 0.5))
                            ELSE 1.0 * LN(1.0 - 2.0 * (0.5 - u)) END)
                    + 0.5) AS BIGINT) AS noisy_events
        FROM unif
    """
    # the streaming twin releases the identical noisy cells
    o["dp_windowed_histogram_stream"] = o["dp_windowed_histogram"]

    o["embedding_group_centroids"] = f"""
        SELECT label, CAST(u.i - 1 AS INT) AS dim_idx,
               CAST(SUM({_fin_elem_sql('embedding[u.i]')}) AS DOUBLE)
                 / COUNT({_fin_elem_sql('embedding[u.i]')}) AS centroid,
               COUNT(*) AS n_vectors
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) u(i)
        GROUP BY 1, 2
    """
    o["orders_rollup"] = """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(CASE WHEN isfinite(o_totalprice)
                                  THEN o_totalprice END
                             AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
               CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS lvl
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """
    o["events_moving_avg"] = """
        SELECT user_id, event_id,
          CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,6))) OVER w AS DOUBLE)
            AS rolling_sum,
          CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,6))) OVER w AS DOUBLE)
            / COUNT(*) OVER w AS rolling_avg,
          COUNT(*) OVER w AS rolling_n
        FROM events
        WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """
    # WHERE ts IS NOT NULL: Spark's window() generator silently drops
    # NULL event times; without the filter the oracle would emit a
    # NULL-window group Spark never produces
    o["events_sliding_counts"] = """
        SELECT CAST(make_timestamp(
                 (epoch_us(CAST(ts AS TIMESTAMP)) // 900000000) * 900000000
                 - i.i * 900000000) AS TIMESTAMP) AS window_start,
               event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events CROSS JOIN generate_series(0, 3) i(i)
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """
    o["events_click_purchase"] = """
        SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
               (epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP))) / 1000000.0
               AS gap_seconds
        FROM events c JOIN events p ON c.user_id = p.user_id
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          AND epoch_us(CAST(p.ts AS TIMESTAMP))
              > epoch_us(CAST(c.ts AS TIMESTAMP))
          AND epoch_us(CAST(p.ts AS TIMESTAMP))
              <= epoch_us(CAST(c.ts AS TIMESTAMP)) + 1800000000
    """
    o["events_sessionize"] = """
        WITH x AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS tsu
                   FROM events WHERE ts IS NOT NULL),
        g AS (SELECT user_id, event_id, tsu,
                CASE WHEN epoch_us(tsu) - lag(epoch_us(tsu)) OVER w IS NULL
                       OR epoch_us(tsu) - lag(epoch_us(tsu)) OVER w > 30*60*1000000
                     THEN 1 ELSE 0 END AS ns
              FROM x WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        s AS (SELECT user_id, tsu,
                CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY tsu, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
              FROM g)
        SELECT user_id, session_id, COUNT(*) AS n_events,
               CAST(date_trunc('second', min(tsu)) AS TIMESTAMP) AS session_start,
               CAST(date_trunc('second', max(tsu)) AS TIMESTAMP) AS session_end
        FROM s GROUP BY 1, 2
    """

    # r11: session summary — exact-integer inputs (counts and
    # second-truncated bound diffs) through quantile_cont parity
    o["events_session_stats"] = f"""
        WITH sessions AS ({o['events_sessionize']})
        SELECT COUNT(*) AS n_sessions,
               round(quantile_cont(CAST(n_events AS DOUBLE), 0.5), 4)
                   AS events_q50,
               round(quantile_cont(CAST(n_events AS DOUBLE), 0.9), 4)
                   AS events_q90,
               round(quantile_cont(CAST(epoch(session_end)
                     - epoch(session_start) AS DOUBLE), 0.5), 4)
                   AS duration_q50,
               round(quantile_cont(CAST(epoch(session_end)
                     - epoch(session_start) AS DOUBLE), 0.9), 4)
                   AS duration_q90
        FROM sessions
    """

    # defined last: reuses the events_sessionize SQL as its CTE
    o["range_join_sessions"] = f"""
        WITH sessions AS ({o['events_sessionize']})
        SELECT e.event_id, e.user_id, s.session_id
        FROM events e JOIN sessions s
          ON e.user_id = s.user_id
         AND CAST(e.ts AS TIMESTAMP) >= s.session_start
         AND CAST(e.ts AS TIMESTAMP) <= s.session_end
    """

    return o
