"""The four closed-loop workloads. Each drives the program only through
its public entry points and returns its timed operation records.

Every workload has the same life cycle, run by run.py:

  generate inputs (untimed) -> setup (timed: get_spark, load_all, one
  warm pass) -> measure for --seconds -> check outputs (untimed)

Operations are timed from the call into the program to the collected
(or written) result. Spans mark the calls into each layer: ``op`` is
the root of one operation; ``*.exec`` spans cover the action that runs
Spark jobs (collect or write); everything else inside ``op`` is the
program building its lazy plan.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import harness
import inputs
import oracle
from harness import OpRecord


class Ctx:
    """What a workload needs while it runs: the session, the loaded
    tables, the tracer and job-group counter, the run's options, and
    what the run reports besides its records (``info``, ``layers``)."""

    def __init__(self, tracer, seed, seconds, traced, work_dir, nproc):
        self.spark = None
        self.T: dict = {}
        self.tracer = tracer
        self.groups = None
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work_dir = work_dir
        self.nproc = nproc
        self.wall_s = 0.0
        self.released: list[int] = []  # cache.release_all() results
        self.ops_run = 0  # operations executed, traced twins included
        self.pass_rows_per_s: list[float] = []
        self.info: dict = {}
        self.layers: dict = {}


def _med(vals):
    return statistics.median(vals)


def _table_rows(path: str) -> int:
    if os.path.isdir(path):
        return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                   for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.ParquetFile(path).metadata.num_rows


def _collect(df) -> tuple[list[str], list[tuple]]:
    cols = df.columns
    return cols, [tuple(r) for r in df.collect()]


def _traced_states(ctx, index: int) -> tuple[bool, ...]:
    """Untraced runs execute an operation once. The traced run executes
    it twice back to back, traced and untraced, alternating which goes
    first, so each traced execution has an untraced twin to measure
    the tracing overhead against."""
    if not ctx.traced:
        return (False,)
    return (False, True) if index % 2 == 0 else (True, False)


def _timed(ctx, gid: str, traced: bool, build, exec_span: str, execute,
           layer_span: str | None = None, release: bool = True):
    """Run one operation: ``build()`` calls the program and returns a
    lazy plan, ``execute(plan)`` runs it. Returns (latency in seconds,
    result); the latency ends when the result is in hand, before the
    operation's caches are released."""
    from hillview_spark import cache

    tr = ctx.tracer
    tr.enabled = traced
    ctx.ops_run += 1
    try:
        t0 = time.perf_counter()
        with tr.span("op", op=gid), ctx.groups.group(gid, traced):
            if layer_span:
                with tr.span(layer_span):
                    plan = build()
                    with tr.span(exec_span):
                        out = execute(plan)
            else:
                plan = build()
                with tr.span(exec_span):
                    out = execute(plan)
            lat = time.perf_counter() - t0
            if release:
                with tr.span("cache.release_all"):
                    ctx.released.append(cache.release_all())
    finally:
        tr.enabled = False
    return lat, out


# ------------------------------------------------- explore / analysts


def _view(T, op, tracer):
    from hillview_spark.api import TableView

    with tracer.span("api.derive"):
        v = TableView(T[op.table])
        for f in op.filters:
            if f[0] == "range":
                v = v.filter_range(f[1], f[2], f[3])
            else:
                v = v.brush([{"col": c, "lo": lo, "hi": hi} for c, lo, hi in f[1]])
    return v


def _sketch(v, op, start, tracer):
    from hillview_spark.operators import stats

    a = op.args
    k = op.kind
    with tracer.span("api.sketch_build"):
        if k == "table_summary":
            return v.schema_summary()
        if k == "histogram":
            return v.histogram(a["col"], a["buckets"])
        if k == "histogram2d":
            return v.histogram2d(a["x"], a["y"], a["xb"], a["yb"])
        if k == "cdf":
            return v.cdf(a["col"], a["buckets"])
        if k == "next_k":
            return v.page(a["sort_cols"], a["k"], start=start)
        if k == "heavy_hitters":
            return v.heavy_hitters(a["cols"], a["epsilon"])
        if k == "quantiles":
            return v.quantiles(a["col"], a["probs"])
        if k == "quantiles_approx":
            # TableView has no approximate twin; the operator is public
            return stats.quantiles_approx(v.df, a["col"], a["probs"])
        if k == "distinct_count":
            return v.distinct_count(a["col"])
        if k == "col_stats":
            return v.col_stats(a["cols"])
    raise ValueError(k)


class Analyst:
    """Runs one analyst's script ops and keeps what the checks need:
    the first result of every distinct op, and each page's last row
    (the anchor of the scroll that follows it)."""

    def __init__(self, ctx, table_rows: dict[str, int], name: str):
        self.ctx = ctx
        self.table_rows = table_rows
        self.name = name
        self.last_row: dict[str, tuple | None] = {}
        self.results: dict[str, tuple] = {}
        # (traced s, untraced s, traced ran first) per timed op
        self.pairs: list[tuple[float, float, bool]] = []
        self.n = 0

    def run(self, op, timed: bool) -> OpRecord | None:
        ctx = self.ctx
        start = self.last_row.get(op.start_from) if op.start_from else None
        ident = repr((op.table, op.filters, op.kind, sorted(op.args.items()), start))
        rows_in = self.table_rows[op.table]
        lat = {}
        for traced in _traced_states(ctx, self.n) if timed else (False,):
            try:
                lat[traced], (cols, rows) = _timed(
                    ctx, f"{self.name}.{op.key}.{self.n}.{int(traced)}", traced,
                    lambda: _sketch(_view(ctx.T, op, ctx.tracer), op, start,
                                    ctx.tracer),
                    f"operators.{op.kind}.exec", _collect)
            except Exception:
                if not timed:
                    raise
                return OpRecord(op.kind, ident, 0.0, rows_in, ok=False,
                                error=traceback.format_exc(limit=3))
        if len(lat) == 2:
            self.pairs.append((lat[True], lat[False], self.n % 2 == 1))
        self.n += 1
        if op.kind == "next_k":
            self.last_row[op.key] = (
                tuple(rows[-1][cols.index(c)] for c in op.args["sort_cols"])
                if rows else None)
        self.results.setdefault(ident, (op, start, cols, rows))
        if not timed:
            return None
        return OpRecord(op.kind, ident, lat[False], rows_in,
                        digest=oracle.digest(cols, rows))


def _script(seed: int, deadline: float, min_sessions: int, **kw):
    """An analyst's closed loop: session after session of the seeded
    script until the deadline passes. With ``min_sessions`` > 0 the
    loop stops only at the end of a session, and not before that many
    sessions, so every run does the same mix of interactions;
    otherwise it stops at the next interaction."""
    s = 0
    while True:
        for op in inputs.session_script(seed, s, **kw):
            if not min_sessions and time.perf_counter() >= deadline:
                return
            yield op
        s += 1
        if s >= min_sessions and time.perf_counter() >= deadline:
            return


def _check_analysts(ctx, con, records) -> None:
    """DuckDB-check each distinct op once; every timed repeat must
    reproduce the digest of its first result."""
    verdict, first = {}, {}
    for a in ctx.analysts:
        for ident, (op, start, cols, rows) in a.results.items():
            if ident in verdict:
                continue
            try:
                verdict[ident] = oracle.check_op(
                    con, op.table, op.filters, op.kind, op.args, start, cols, rows)
            except Exception as e:  # a check that cannot run is a failed check
                verdict[ident] = f"check raised {e!r}"
            first[ident] = oracle.digest(cols, rows)
    for r in records:
        if not r.ok:
            continue
        problem = verdict.get(r.key, "never checked")
        if problem is None and r.digest != first[r.key]:
            problem = "result differs from the first run of the same op"
        if problem is not None:
            r.ok, r.error = False, problem
    if ctx.traced:
        st = ctx.tracer.self_times()
        for name, vals in sorted(st.items()):
            if name.startswith(("operators.", "api.")):
                ctx.layers[f"{name}_ms"] = _med(vals)
        ctx.layers["trace.overhead_frac"] = harness.overhead(
            [p for a in ctx.analysts for p in a.pairs])


def _warm_session(ctx, ops, tables) -> None:
    """The warm pass of the analyst workloads: every interaction of one
    session, nproc at a time. Only the JVM needs warming, so the
    interactions run concurrently (a scroll runs as a first page)."""
    from concurrent.futures import ThreadPoolExecutor

    from hillview_spark import cache

    rows = dict.fromkeys(tables, 0)

    def one(i, op):
        with cache.scope():  # concurrent ops must not release each other's caches
            Analyst(ctx, rows, f"warm{i}").run(op, False)

    with ThreadPoolExecutor(ctx.nproc) as ex:
        futures = [ex.submit(one, i, op) for i, op in enumerate(ops)]
        for f in futures:
            f.result()


def explore_warm(ctx) -> None:
    _warm_session(ctx, inputs.session_script(ctx.seed, -1), ("lineitem", "orders"))


def explore(ctx) -> list[OpRecord]:
    """One analyst over sf0.1 lineitem and orders: whole sessions, at
    least one, until --seconds have passed."""
    rows = {t: _table_rows(os.path.join(inputs.SF_DIR, f"{t}.parquet"))
            for t in ("lineitem", "orders")}
    a = Analyst(ctx, rows, "a0")
    ctx.analysts = [a]
    t0 = time.perf_counter()
    records = [a.run(op, timed=True) for op in _script(ctx.seed, t0 + ctx.seconds, 1)]
    ctx.wall_s = time.perf_counter() - t0
    return records


def explore_check(ctx, records) -> None:
    con = oracle.connect({t: os.path.join(inputs.SF_DIR, f"{t}.parquet")
                          for t in ("lineitem", "orders")}, ctx.work_dir)
    try:
        _check_analysts(ctx, con, records)
    finally:
        con.close()


LINEITEM_X = "lineitem_x"


def analysts_inputs(ctx) -> None:
    ctx.info.update(inputs.write_lineitem_x(
        ctx.seed, os.path.join(ctx.work_dir, f"{LINEITEM_X}.parquet")))


def analysts_tables(ctx) -> None:
    from hillview_spark.tables import load_table

    ctx.T[LINEITEM_X] = load_table(ctx.spark, ctx.work_dir, LINEITEM_X)


def analysts_warm(ctx) -> None:
    _warm_session(ctx, inputs.session_script(ctx.seed, -1, LINEITEM_X,
                                             with_orders=False), (LINEITEM_X,))


def analysts(ctx) -> list[OpRecord]:
    """nproc analysts at once, each with its own script (seed + i) in
    its own cache scope, until --seconds have passed."""
    from hillview_spark import cache

    rows = {LINEITEM_X: ctx.info["lineitem_x_rows"]}
    ctx.analysts = [Analyst(ctx, rows, f"a{i}") for i in range(ctx.nproc)]
    out: list[list[OpRecord]] = [[] for _ in ctx.analysts]
    errors = []
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds

    def analyst(i):
        try:
            with cache.scope():
                for op in _script(ctx.seed + i, deadline, 0, table=LINEITEM_X,
                                  with_orders=False):
                    out[i].append(ctx.analysts[i].run(op, timed=True))
        except Exception:
            errors.append(traceback.format_exc())

    threads = [threading.Thread(target=analyst, args=(i,))
               for i in range(len(ctx.analysts))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    ctx.wall_s = time.perf_counter() - t0
    if errors:
        raise RuntimeError(errors[0])
    return [r for rs in out for r in rs]


def analysts_check(ctx, records) -> None:
    con = oracle.connect({LINEITEM_X: os.path.join(
        ctx.work_dir, f"{LINEITEM_X}.parquet", "*.parquet")}, ctx.work_dir)
    try:
        _check_analysts(ctx, con, records)
    finally:
        con.close()


# ------------------------------------------------------------- curate

def curate_inputs(ctx) -> None:
    c = inputs.write_corpus(ctx.seed, os.path.join(ctx.work_dir, "corpus"))
    ctx.corpus = c
    # the warm pass runs the same chain over a tenth of the corpus
    ctx.warm_corpus = inputs.write_corpus(
        ctx.seed + 1, os.path.join(ctx.work_dir, "warm"), n_base=c.n_base // 10,
        n_eval=10)
    ctx.info.update({
        "corpus_docs": c.n_docs, "corpus_base_docs": c.n_base,
        "corpus_exact_dups": c.n_exact_dups, "corpus_near_dups": c.n_near_dups,
        "corpus_dup_share": round(c.dup_share, 4), "corpus_pii_docs": c.n_pii_docs,
        "eval_docs": len(c.eval_ids), "vectors": c.n_vectors,
        "vector_near_dups": c.n_vector_dups, "input_bytes": c.input_bytes,
    })


def curate_tables(ctx) -> None:
    from hillview_spark.tables import load_table

    ctx.curate_tables = {}
    for key, c in (("main", ctx.corpus), ("warm", ctx.warm_corpus)):
        ctx.curate_tables[key] = {name: load_table(ctx.spark, c.dir, name)
                                  for name in ("corpus", "eval", "embeddings")}


def _summary(df, *extra):
    """The job that materializes a step: row count plus an
    order-insensitive hash of every row, and step-specific sums."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.pmod(h, F.lit(2**31))).alias("hsum"),
                  F.bit_xor(h).alias("hxor"), *extra)


def _docs_with(col: str, needle: str):
    """How many rows' ``col`` contains ``needle``."""
    return F.sum(F.instr(col, needle).cast("boolean").cast("long"))


def _curate_steps(T, corpus, state):
    """The chain, as (name, layer, build) triples. ``build`` calls the
    program and returns the plan the step's job runs; the steps feed
    one another through cache.persist, released at the end of the
    pass."""
    from hillview_spark import cache
    from hillview_spark.functions import curation, dedup, similarity, text

    def dedup_step():
        kept = state["kept"] = cache.persist(dedup.dedup_corpus(T["corpus"]))
        return _summary(kept, F.sum(
            (F.col("doc_id") >= corpus.first_copy_id).cast("long")).alias("copies"),
            _docs_with("text", "@").alias("with_email"),
            _docs_with("text", "https://").alias("with_url"))

    def pii_step():
        s = cache.persist(curation.pii_scrub(state["kept"]))
        state["scrubbed"] = s.select("doc_id", F.col("text_scrubbed").alias("text"))
        return _summary(s, F.sum("n_email").alias("n_email"),
                        F.sum("n_url").alias("n_url"),
                        (_docs_with("text_scrubbed", "@")
                         + _docs_with("text_scrubbed", "https://")).alias("left"))

    def decon_step():
        clean = state["clean"] = cache.persist(
            curation.decontaminate(state["scrubbed"], T["eval"], n=5))
        return _summary(clean, F.sum(
            F.col("doc_id").isin(corpus.eval_ids).cast("long")).alias("eval_left"))

    return (
        ("dedup_corpus", "functions", dedup_step),
        ("quality_score", "functions",
         lambda: _summary(text.quality_score(state["kept"]))),
        ("pii_scrub", "functions", pii_step),
        ("chunk_documents", "functions", lambda: _summary(
            curation.chunk_documents(state["scrubbed"], chunk_tokens=40, overlap=8),
            F.countDistinct("doc_id").alias("docs"))),
        ("decontaminate", "functions", decon_step),
        ("semantic_dedup_blas", "functions", lambda: _summary(
            similarity.semantic_dedup_blas(T["embeddings"], threshold=0.5),
            F.sum(F.col("keep").cast("long")).alias("kept"))),
        ("write_parquet", "sources", lambda: state["clean"]),
    )


CURATE_STEPS = (("dedup_corpus", "functions"), ("quality_score", "functions"),
                ("pii_scrub", "functions"), ("chunk_documents", "functions"),
                ("decontaminate", "functions"), ("semantic_dedup_blas", "functions"),
                ("write_parquet", "sources"))


def _write(df, out_dir):
    from hillview_spark.sources import writers

    writers.write_parquet(df, out_dir)
    return {"n": _table_rows(out_dir),
            "bytes": sum(os.path.getsize(os.path.join(out_dir, f))
                         for f in os.listdir(out_dir) if f.endswith(".parquet"))}


def _curate_pass(ctx, p: int, traced: bool, key: str = "main"):
    """One full pass of the chain, each step one timed job. Returns
    the pass's wall time, its records and each step's summary row."""
    from hillview_spark import cache

    corpus = ctx.corpus if key == "main" else ctx.warm_corpus
    out_dir = os.path.join(ctx.work_dir, "survivors", f"{key}{p}")
    records, rows = [], {}
    t_pass = time.perf_counter()
    for name, layer, build in _curate_steps(ctx.curate_tables[key], corpus, {}):
        execute = ((lambda df: _write(df, out_dir)) if layer == "sources"
                   else (lambda job: job.collect()[0].asDict()))
        try:
            lat, row = _timed(ctx, f"curate.{key}{p}.{name}", traced, build,
                              f"{layer}.{name}.exec", execute,
                              layer_span=f"{layer}.{name}", release=False)
        except Exception:
            if key != "main":
                raise
            records.append(OpRecord(name, name, 0.0, ctx.rows_in, ok=False,
                                    error=traceback.format_exc(limit=3)))
            break
        rows[name] = row
        records.append(OpRecord(name, name, lat, ctx.rows_in,
                                digest=repr(sorted(row.items()))))
    ctx.tracer.enabled = traced
    with ctx.tracer.span("cache.release_all"):
        ctx.released.append(cache.release_all())
    ctx.tracer.enabled = False
    return time.perf_counter() - t_pass, records, rows


def curate_warm(ctx) -> None:
    ctx.rows_in = ctx.corpus.n_docs + ctx.corpus.n_vectors
    _curate_pass(ctx, 0, False, "warm")


def _room(t0: float, last_s: float, seconds: float) -> bool:
    """Whether another pass as long as the last one still ends within
    the window: a batch client does not start a pass it cannot finish."""
    return time.perf_counter() - t0 + last_s <= seconds


def curate(ctx) -> list[OpRecord]:
    """One batch client: full passes of the curation chain while
    another pass still fits in --seconds (at least one). The traced
    run makes three passes, the middle one traced: the steps feed one
    another, so whole passes are compared for the tracing overhead."""
    records: list[OpRecord] = []
    ctx.passes = []  # (seconds, traced, step rows)
    t0 = time.perf_counter()
    while not ctx.passes or (ctx.traced and len(ctx.passes) < 3) or (
            not ctx.traced and _room(t0, ctx.passes[-1][0], ctx.seconds)):
        traced = ctx.traced and len(ctx.passes) % 2 == 1
        secs, recs, rows = _curate_pass(ctx, len(ctx.passes), traced)
        ctx.passes.append((secs, traced, rows))
        records += recs
    ctx.wall_s = time.perf_counter() - t0
    ctx.info["passes"] = len(ctx.passes)
    ctx.pass_rows_per_s = [ctx.rows_in / s for s, traced, _ in ctx.passes if not traced]
    return records


def _curate_invariants(c, first: dict) -> dict[str, str | None]:
    """One invariant per step, on the first pass's summaries."""
    probs: dict[str, str | None] = {}

    def need(step, ok, msg):
        probs[step] = None if ok else msg

    kept = first["dedup_corpus"]
    copies = c.n_exact_dups + c.n_near_dups
    # the removed copies must account for the generated duplicate
    # share: every verbatim copy goes, and all but a few near-copies
    # (banded MinHash over the program's affine hash family misses
    # 4-14 of 250 near-copies at Jaccard 0.8-0.95 across seeds; a
    # tenth is the limit); base documents that happen to be
    # near-duplicates of one another may go too
    need("dedup_corpus",
         kept["copies"] <= 0.1 * c.n_near_dups
         and kept["n"] - kept["copies"] <= c.n_base,
         f"kept {kept['n']} of {c.n_docs}; {kept['copies']} of {copies} copies survived")
    need("quality_score", first["quality_score"]["n"] == kept["n"],
         "one score per kept document")
    # each PII document carries one email and one URL (a near-copy may
    # have lost either to its replaced token)
    pii = first["pii_scrub"]
    need("pii_scrub",
         pii["n"] == kept["n"] and pii["n_email"] == kept["with_email"]
         and pii["n_url"] == kept["with_url"] and pii["left"] == 0,
         f"{pii['n_email']} emails / {pii['n_url']} urls redacted in "
         f"{kept['with_email']} / {kept['with_url']} docs, {pii['left']} docs left")
    ch = first["chunk_documents"]
    need("chunk_documents", ch["docs"] == kept["n"] and ch["n"] >= kept["n"],
         f"{ch['n']} chunks covering {ch['docs']} of {kept['n']} docs")
    dc = first["decontaminate"]
    need("decontaminate",
         dc["eval_left"] == 0 and dc["n"] <= kept["n"] - len(c.eval_ids),
         f"{dc['n']} survivors, {dc['eval_left']} eval docs left")
    sd = first["semantic_dedup_blas"]
    need("semantic_dedup_blas",
         sd["n"] == c.n_vectors and 0 < sd["kept"] <= c.n_vectors - 0.9 * c.n_vector_dups,
         f"kept {sd['kept']} of {sd['n']} vectors")
    wr = first["write_parquet"]
    need("write_parquet", wr["n"] == dc["n"], f"wrote {wr['n']} of {dc['n']} rows")
    return probs


def curate_check(ctx, records) -> None:
    c = ctx.corpus
    first = ctx.passes[0][2]
    if len(first) < len(CURATE_STEPS):
        return  # the first pass broke off; its failed step is recorded
    probs = _curate_invariants(c, first)
    digests = {k: repr(sorted(v.items())) for k, v in first.items()}
    for r in records:
        if not r.ok:
            continue
        problem = probs[r.kind]
        if problem is None and r.digest != digests[r.kind]:
            problem = "pass result differs from the first pass"
        if problem is not None:
            r.ok, r.error = False, problem
    kept = first["dedup_corpus"]
    ctx.info["dedup_kept_frac"] = kept["n"] / c.n_docs
    ctx.info["measured_dup_share"] = (
        c.n_exact_dups + c.n_near_dups - kept["copies"]) / c.n_docs
    if ctx.traced:
        _curate_layers(ctx, first)


def _curate_layers(ctx, first) -> None:
    from hillview_spark import cache
    from hillview_spark.functions import dedup

    for name, layer in CURATE_STEPS:
        ctx.layers[f"{layer}.{name}_s"] = _med(
            ctx.tracer.durations(f"{layer}.{name}")) / 1e3
    ctx.layers["functions.dedup_kept_frac"] = ctx.info["dedup_kept_frac"]
    ctx.layers["sources.bytes_written_per_input_byte"] = (
        first["write_parquet"]["bytes"] / ctx.corpus.input_bytes)
    # the LSH stage's useful-to-attempted ratio, outside the timed passes
    corpus = ctx.curate_tables["main"]["corpus"]
    cand = dedup.minhash_lsh_pairs(corpus)
    n_cand = cand.count()
    verified = dedup.verify_jaccard(corpus, cand, 0.3).count()
    cache.release_all()
    ctx.layers["functions.lsh_candidates"] = n_cand
    ctx.layers["functions.lsh_precision"] = verified / n_cand
    # passes 0 and 2 untraced around the traced pass 1
    (u0, _, _), (t, _, _), (u1, _, _) = ctx.passes[:3]
    ctx.layers["trace.overhead_frac"] = t / (u0 * u1) ** 0.5 - 1


# ------------------------------------------------------------- report

# TPC-H jobs: the tpch function and the tables it takes, as in the
# oracle gate's query keys
TPCH = {
    "q1_pricing_summary": ("lineitem",),
    "q2_min_cost_supplier": ("part", "supplier", "nation", "region", "lineitem"),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "q4_late_orders": ("orders", "lineitem"),
    "q5_local_supplier": ("customer", "orders", "lineitem", "supplier", "nation",
                          "region"),
    "q6_revenue_forecast": ("lineitem",),
    "q7_volume_shipping": ("lineitem", "orders", "customer", "supplier", "nation"),
    "q8_market_share": ("part", "supplier", "lineitem", "orders", "customer",
                        "nation", "region"),
    "q9_product_type_profit": ("part", "supplier", "lineitem", "orders", "nation"),
    "q10_returned_items": ("customer", "orders", "lineitem"),
    "q11_important_parts": ("lineitem", "supplier", "nation"),
    "q12_shipmode_priority": ("orders", "lineitem"),
    "q13_customer_order_distribution": ("customer", "orders"),
    "q14_promo_revenue": ("lineitem", "part"),
    "q15_top_supplier": ("lineitem", "supplier"),
    "q16_supplier_part_counts": ("part", "supplier", "lineitem"),
    "q17_small_quantity_revenue": ("lineitem", "part"),
    "q18_large_orders": ("customer", "orders", "lineitem"),
    "q19_discounted_revenue": ("lineitem", "part"),
    "q20_part_promotion": ("supplier", "lineitem", "part"),
    "q21_suppliers_kept_waiting": ("supplier", "lineitem", "orders"),
    "q22_sales_opportunity": ("customer", "orders"),
}
# events analytics: oracle key -> (streaming.events function, kwargs)
EVENTS = {
    "events_sessionize": ("sessionize", {"gap_minutes": 30}),
    "events_funnel": ("funnel_counts", {"steps": ("click", "view", "purchase")}),
    "events_windowed_quantiles": ("windowed_quantiles", {
        "unit": "hour", "col": "value", "probs": (0.5, 0.9, 0.99), "ndigits": 4}),
    "events_cohort_retention": ("cohort_retention", {}),
    "events_transitions": ("transition_counts", {}),
}
# the warm pass runs a slice of the jobs: a full cold pass costs more
# than the measured pass itself
REPORT_WARM = ("q1_pricing_summary", "q9_product_type_profit", "events_sessionize")


def _report_jobs() -> dict[str, tuple[str, str, tuple, object]]:
    """job -> (layer, name within the layer, input tables, build(T))."""
    from hillview_spark.queries import tpch
    from hillview_spark.streaming import events as ev

    jobs = {k: ("queries", k.split("_")[0], t,
                lambda T, k=k, t=t: getattr(tpch, k)(*[T[x] for x in t]))
            for k, t in TPCH.items()}
    for k, (fn, kw) in EVENTS.items():
        jobs[k] = ("streaming", fn, ("events",),
                   lambda T, fn=fn, kw=kw: getattr(ev, fn)(T["events"], **kw))
    return jobs


def report_tables(ctx) -> None:
    ctx.jobs = _report_jobs()
    ctx.table_rows = {t: _table_rows(os.path.join(inputs.REPORT_SF_DIR, f"{t}.parquet"))
                      for t in ("region", "nation", "customer", "supplier", "part",
                                "orders", "lineitem", "events")}
    # one fixed order: a job's latency depends on how warm the JVM is
    # when it runs, so a seeded order made every job's latency depend
    # on the seed
    ctx.order = list(ctx.jobs)
    ctx.results = {}
    ctx.pairs = []


def _report_pass(ctx, p, timed: bool, order) -> tuple[float, list[OpRecord]]:
    records = []
    t_pass = time.perf_counter()
    for i, name in enumerate(order):
        layer, metric, tabs, build = ctx.jobs[name]
        rows_in = sum(ctx.table_rows[t] for t in tabs)
        lat = {}
        for traced in _traced_states(ctx, i) if timed else (False,):
            try:
                lat[traced], (cols, rows, dtypes) = _timed(
                    ctx, f"report.{p}.{name}.{int(traced)}", traced,
                    lambda: build(ctx.T), f"{layer}.{metric}.exec",
                    lambda df: (*_collect(df), dict(df.dtypes)),
                    layer_span=f"{layer}.{metric}")
            except Exception:
                if not timed:
                    raise
                records.append(OpRecord(name, name, 0.0, rows_in, ok=False,
                                        error=traceback.format_exc(limit=3)))
                break
        else:
            if len(lat) == 2:
                ctx.pairs.append((lat[True], lat[False], i % 2 == 1))
            ctx.results.setdefault(name, (cols, dtypes, rows))
            records.append(OpRecord(name, name, lat[False], rows_in,
                                    digest=oracle.digest(cols, rows)))
    return time.perf_counter() - t_pass, records


def report_warm(ctx) -> None:
    _report_pass(ctx, -1, False, [j for j in ctx.order if j in REPORT_WARM])
    ctx.results.clear()


def report(ctx) -> list[OpRecord]:
    """One batch client: full passes over the 22 TPC-H queries and the
    five events analytics, in seeded order, while another pass still
    fits in --seconds (at least one)."""
    records: list[OpRecord] = []
    pass_s: list[float] = []
    t0 = time.perf_counter()
    while not pass_s or _room(t0, pass_s[-1], ctx.seconds):
        secs, recs = _report_pass(ctx, len(pass_s), True, ctx.order)
        pass_s.append(secs)
        records += recs
    ctx.wall_s = time.perf_counter() - t0
    ctx.info["passes"] = len(pass_s)
    rows = sum(ctx.table_rows[t] for _, _, tabs, _ in ctx.jobs.values() for t in tabs)
    ctx.pass_rows_per_s = [rows / s for s in pass_s]
    return records


def report_check(ctx, records) -> None:
    sql = oracle.report_oracle()
    con = oracle.connect({t: os.path.join(inputs.REPORT_SF_DIR, f"{t}.parquet")
                          for t in ctx.table_rows}, ctx.work_dir)
    verdict, first = {}, {}
    try:
        for name, (cols, dtypes, rows) in ctx.results.items():
            try:
                verdict[name] = oracle.check_query(con, sql[name], cols, dtypes, rows)
            except Exception as e:  # a check that cannot run is a failed check
                verdict[name] = f"check raised {e!r}"
            first[name] = oracle.digest(cols, rows)
    finally:
        con.close()
    for r in records:
        if not r.ok:
            continue
        problem = verdict.get(r.kind, "never checked")
        if problem is None and r.digest != first[r.kind]:
            problem = "result differs from the first run of the same job"
        if problem is not None:
            r.ok, r.error = False, problem
    if ctx.traced:
        for layer, metric, _, _ in ctx.jobs.values():
            ctx.layers[f"{layer}.{metric}_s"] = _med(
                ctx.tracer.durations(f"{layer}.{metric}")) / 1e3
        ctx.layers["trace.overhead_frac"] = harness.overhead(ctx.pairs)


# the fixture directory each workload's setup loads with load_all
DATA_DIR = {"explore": inputs.SF_DIR, "analysts": inputs.SF_DIR,
            "curate": inputs.SF_DIR, "report": inputs.REPORT_SF_DIR}

# the layer whose public calls a workload's operations are, and what
# one is called there: the traced run repeats the job-group counts
# under that layer's name
OP_LAYER = {"explore": ("operators", "op"), "analysts": ("operators", "op"),
            "curate": ("functions", "call"), "report": ("queries", "query")}

WORKLOADS = {
    # name: (prepare inputs, extra tables, warm pass, measure, check)
    "explore": (None, None, explore_warm, explore, explore_check),
    "analysts": (analysts_inputs, analysts_tables, analysts_warm, analysts,
                 analysts_check),
    "curate": (curate_inputs, curate_tables, curate_warm, curate, curate_check),
    "report": (None, report_tables, report_warm, report, report_check),
}
