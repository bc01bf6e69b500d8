"""Text analysis for training-data pipelines: token counting,
quality scoring, language ID, fingerprinting.
(Extension beyond the Hillview reference, SURVEY.md §2.4.)

All pure JVM-side expressions (regexp/length/hash) — whole-stage
codegen, no UDFs, embarrassingly parallel at any scale. Score
arithmetic is rational (int/int division, no transcendentals) so
results reproduce bit-identically in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

WORD_OR_PUNCT_RE = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"
PUNCT_RE = r"[^a-zA-Z0-9\s]"
STOPWORD_RES = {
    "en": r"\b(the|a|an|and|of|to|in|is|it|for)\b",
    "fr": r"\b(le|la|les|et|de|un|une|est|dans)\b",
    "es": r"\b(el|los|las|y|de|un|una|es|en)\b",
    "de": r"\b(der|die|das|und|ein|eine|ist|zu)\b",
}
CJK_RE = r"[\x{4e00}-\x{9fff}]"


def tokens_expr(col: Column, lowercase: bool = True) -> Column:
    """THE canonical whitespace tokenizer: lowercase, NULL->'',
    split on \\s+, empty tokens dropped. vocab / bm25_search /
    top_terms_per_doc / bigram_lm_nll / bpe all tokenize through
    this one expression so their vocabularies are identical by
    construction (hand-rolled copies had already drifted on
    trailing-newline handling)."""
    t = F.coalesce(col, F.lit(""))
    if lowercase:
        t = F.lower(t)
    return F.filter(F.split(F.trim(t), r"\s+"), lambda x: x != "")


def _count_re(col: Column, pattern: str) -> Column:
    # regexp_count == size(regexp_extract_all(..., 0)) for every
    # input (NULL -> NULL, no match -> 0, same non-overlapping match
    # walk) but never materializes the matched strings into an array
    # — pure per-row work removed from every scan that counts matches
    # (token_count's word-or-punct regex matches nearly every
    # character position, so the array it no longer builds was the
    # size of the document). Measured (r16, closing the r15 scale
    # claim): NEUTRAL even on ~18 KB documents — 3.455 s vs 3.468 s
    # interleaved medians of 7 on a 2000-doc x 60-repeat fixture
    # (OPTIMIZATION_r16.md, identity asserted) — the regex
    # walk dominates and the skipped array allocation is noise at
    # any document size tested. Kept for the allocation-free form,
    # not a measured win.
    return F.regexp_count(col, F.lit(pattern))


def _ws_tokens(t):
    """Whitespace token count with sane edges: 0 for empty or
    all-whitespace text, NULL for NULL text. Counts NON-EMPTY tokens
    through tokens_expr — THE canonical tokenizer (its NULL->''
    coalesce is dead under the isNotNull guard; lowercase skipped,
    counts are case-blind) — so token_count/quality_* can never
    drift from vocab/bm25/bpe on edge whitespace (the r10 review
    found this was the one hand-rolled copy left)."""
    return F.when(t.isNotNull(), F.size(tokens_expr(t, lowercase=False)))


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens plus a BPE-ish sub-token estimate (words and
    punctuation marks counted separately — a standard fast proxy for
    tokenizer load)."""
    t = F.col(text_col)
    ws = _ws_tokens(t)
    bpe = _count_re(t, WORD_OR_PUNCT_RE)
    # long outputs: SQL engines type list-lengths as BIGINT
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


def _quality_terms(t):
    """Shared score expressions for quality_score and quality_filter
    (one definition so the reported metric and the gate can't
    diverge). Denominators clamp to >= 1: an empty document must
    score 0-ish, not raise DIVIDE_BY_ZERO under ANSI mode."""
    n_chars = F.length(t)
    n_tokens = _ws_tokens(t)
    punct = _count_re(t, PUNCT_RE)
    stop = _count_re(F.lower(t), STOPWORD_RES["en"])
    stop_ratio = stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    punct_ratio = punct.cast("double") / F.greatest(n_chars, F.lit(1))
    len_term = F.least(n_tokens, F.lit(200)).cast("double") / F.lit(200.0)
    score = (
        F.least(stop_ratio * 2, F.lit(1.0))
        + F.lit(1.0) / (F.lit(1.0) + punct_ratio * 10)
        + len_term
    ) / F.lit(3.0)
    return n_tokens, stop_ratio, punct_ratio, score


def quality_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality in [0,1]: rewards stopword density
    (natural-language-ness) and reasonable length, penalizes
    punctuation noise. Pure rational arithmetic."""
    t = F.col(text_col)
    n_tokens, stop_ratio, punct_ratio, score = _quality_terms(t)
    return df.select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(score, 4).alias("quality"),
    )


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """N-gram/stopword heuristic language ID: CJK characters force
    zh; otherwise the language with the highest stopword hit count
    wins (ties break in fixed en>fr>es>de order)."""
    t = F.lower(F.col(text_col))
    cjk = _count_re(F.col(text_col), CJK_RE)
    counts = {lang: _count_re(t, pat) for lang, pat in STOPWORD_RES.items()}
    en, fr, es, de = counts["en"], counts["fr"], counts["es"], counts["de"]
    pred = (
        F.when(cjk > 0, F.lit("zh"))
        .when((en >= fr) & (en >= es) & (en >= de) & (en > 0), F.lit("en"))
        .when((fr >= es) & (fr >= de) & (fr > 0), F.lit("fr"))
        .when((es >= de) & (es > 0), F.lit("es"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("unknown"))
    )
    return df.select(F.col(id_col), pred.alias("lang_pred"))


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint over whitespace-normalized lowercase text
    (md5 — stable across engines and runs; the rolling/shingle
    variants live in dedup.py)."""
    # collapse ALL whitespace runs first, THEN trim: trim-first
    # strips only spaces, leaving '\n'-padded docs with a stray
    # edge space after the collapse — trivially-identical documents
    # fingerprinted differently
    norm = F.trim(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))


def vocab(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary: token -> total count and document frequency
    — the vocab-building / BPE-seeding scan every tokenizer pipeline
    runs. One explode + one groupBy with map-side combine; the token
    key is high-cardinality so the shuffle distributes well.
    Tokenizes through tokens_expr — literally the one canonical
    tokenizer expression, so the vocab can never drift from
    bm25/tfidf/bigram-LM/bpe."""
    toks = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(tokens_expr(F.col(text_col), lowercase)).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("term_count"),
            F.countDistinct("__doc").alias("doc_freq"),
        )
        .where(F.col("term_count") >= F.lit(min_count))
    )


def quality_filter(
    df: DataFrame,
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_quality: float = 0.3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus quality gate: keep documents inside the token-length
    band with quality >= min_quality — the standard pre-training
    filter step. The score expressions are rebuilt inline on the
    same rows (shared _quality_terms builder), so the whole filter
    is one codegen'd scan with no join back."""
    t = F.col(text_col)
    n_tokens, _, _, raw_score = _quality_terms(t)
    score = F.round(raw_score, 4)
    return df.where(
        (n_tokens >= min_tokens)
        & (n_tokens <= max_tokens)
        & (score >= min_quality)
    )


def bigram_lm_nll(
    df: DataFrame,
    train_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
) -> DataFrame:
    """Bigram language-model quality score: per document, the mean
    negative log-likelihood under an add-alpha-smoothed bigram model
    trained on `train_df` (default: the corpus itself) — the CCNet /
    Wenzek et al. '20 shape, where a reference LM's perplexity ranks
    documents for quality filtering (perplexity = exp(nll), monotone
    — the nll is returned directly).

    P(w2|w1) = (C(w1,w2) + alpha) / (C(w1) + alpha*V), with C(w1) the
    corpus occurrence count of w1 and V the unigram vocabulary size.
    Documents with fewer than two tokens have no bigrams and are
    absent from the result.

    Scale shape: bigram extraction is an array expression (zero
    shuffle); the model is two token-keyed aggregates; scoring is two
    equi-joins on high-cardinality token keys (hot stopword bigrams
    are skew-handled by AQE; the count sides are one row per key, so
    Catalyst broadcasts them when the vocabulary is bounded) and one
    groupBy(doc). Nothing driver-side, nothing quadratic.

    Determinism (hash-oracle): the per-bigram -ln p is quantized
    through DECIMAL(20,9) immediately (ln differs by up to 1 ulp
    across math libraries); the per-doc mean is an exact DECIMAL sum
    over the quantized values divided by the bigram count — order
    independent, so the DuckDB oracle hash-matches.
    """
    if train_df is None:
        train_df = df

    def _toks(frame: DataFrame, with_id: bool):
        toks = tokens_expr(F.col(text_col))
        cols = [F.col(id_col)] if with_id else []
        return frame.select(*cols, toks.alias("__toks"))

    def _bigrams_over(toks_df: DataFrame, with_id: bool = False):
        m = F.greatest(F.size(F.col("__toks")) - 1, F.lit(0))
        zipped = F.arrays_zip(
            F.slice(F.col("__toks"), 1, m).alias("w1"),
            F.slice(F.col("__toks"), 2, m).alias("w2"),
        )
        cols = [F.col(id_col)] if with_id else []
        return (
            toks_df.select(*cols, F.explode(zipped).alias("__bi"))
            .select(*cols, F.col("__bi.w1").alias("w1"),
                    F.col("__bi.w2").alias("w2"))
        )

    from hillview_spark import cache

    # the train tokens feed TWO explodes (unigrams, bigrams) and the
    # unigram table feeds TWO consumers (scoring join, vocab size) —
    # persist both so one call tokenizes the corpus once, not four
    # times (the same feeds-two-consumers shape top_terms_per_doc
    # persists its pairs relation for). In the default self-scoring
    # path the SCORING bigrams read the same persisted tokens too
    # (with the id along): before r10 the cached relation lacked
    # doc_id, so scoring re-ran the full regexp-tokenize scan —
    # "once" actually landed at twice.
    if train_df is df:
        score_toks = _toks(df, True).transform(cache.persist)
        train_toks = score_toks
    else:
        score_toks = _toks(df, True)
        train_toks = _toks(train_df, False).transform(cache.persist)
    unigrams = (
        train_toks.select(F.explode(F.col("__toks")).alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("cu"))
        .transform(cache.persist)
    )
    bigram_counts = (
        _bigrams_over(train_toks)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    vocab_size = unigrams.agg(F.count(F.lit(1)).alias("v"))

    scored = (
        _bigrams_over(score_toks, True)
        .join(bigram_counts, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .crossJoin(F.broadcast(vocab_size))
    )
    p = (
        F.coalesce(F.col("cb"), F.lit(0)).cast("double") + F.lit(alpha)
    ) / (
        F.coalesce(F.col("cu"), F.lit(0)).cast("double")
        + F.lit(alpha) * F.col("v").cast("double")
    )
    # v == 0 (empty training vocabulary): the smoothing denominator
    # is exactly 0.0 and the division raises DIVIDE_BY_ZERO under
    # ANSI — an untrained model scores NULL instead (CASE branches
    # evaluate lazily, so the division never runs)
    nll_q = F.when(F.col("v") > 0, -F.log(p)).cast("decimal(20,9)")
    return (
        scored.groupBy(id_col)
        .agg(
            # no final decimal quantization: the 9-dp decimal sum over
            # a small integer count lands EXACTLY on half-boundaries,
            # where Spark (HALF_UP) and other engines (half-even)
            # disagree — the decimal-sum->double conversion and the
            # double division are already bit-identical cross-engine
            (
                F.sum(nll_q).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("nll"),
            F.count(F.lit(1)).alias("n_bigrams"),
        )
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """PMI-ranked bigram collocations — the corpus phrase-mining
    scan (Church & Hanks 1990): for each bigram occurring at least
    min_count times, pmi = ln(P(w1,w2) / (P(w1) P(w2))) with
    P(w1,w2) = C(w1,w2)/N_bigrams and P(w) = C(w)/N_tokens. High-PMI
    pairs are multiword expressions ("new york"); a training-data
    pipeline uses the list for tokenizer-vocab seeding and
    boilerplate-phrase detection. Tokenizes through tokens_expr (THE
    canonical tokenizer — cannot drift from vocab/bm25/bpe).

    Scale shape: one explode -> groupBy(w1,w2) with map-side combine
    (the ONLY shuffle proportional to data); the min_count filter
    prunes the key space BEFORE the unigram joins (tfidf's min_df
    discipline); the unigram side is |V| rows (Catalyst broadcasts it
    when bounded, AQE handles stopword skew otherwise); the two
    corpus totals ride one explicitly-broadcast scalar row. Nothing
    driver-side, nothing quadratic.

    Determinism (hash-oracle): the count ratio is built from exact
    int64 counts in ONE fixed-shape double expression (left-assoc
    products, one division — IEEE ops are correctly rounded, so both
    engines produce the identical double); only LN is library-soft
    (1 ulp), and it quantizes through DECIMAL(20,9) exactly as
    bigram_lm_nll/tfidf's idf do."""
    toks = df.select(tokens_expr(F.col(text_col)).alias("__toks"))
    from hillview_spark import cache

    # one tokenize scan feeds the unigram AND bigram explodes
    toks = cache.persist(toks)
    m = F.greatest(F.size(F.col("__toks")) - 1, F.lit(0))
    zipped = F.arrays_zip(
        F.slice(F.col("__toks"), 1, m).alias("w1"),
        F.slice(F.col("__toks"), 2, m).alias("w2"),
    )
    # unfiltered bigram counts feed the N_bigrams total AND the
    # min_count survivors — persist so the explode+shuffle runs once
    bc_all = cache.persist(
        toks.select(F.explode(zipped).alias("__bi"))
        .select(F.col("__bi.w1").alias("w1"), F.col("__bi.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    uni = cache.persist(
        toks.select(F.explode(F.col("__toks")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    # explicit hint: without it this 1-row x 1-row cross degrades to
    # a CartesianProduct when auto-broadcast is disabled (the 100-TB
    # operating config) — caught by tools/scale_probe_r12.py
    totals = uni.agg(F.sum("cu").alias("nu")).crossJoin(
        F.broadcast(bc_all.agg(F.sum("cb").alias("nb")))
    )
    survivors = bc_all.where(F.col("cb") >= F.lit(int(min_count)))
    u1 = uni.select(F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    ratio = (d("cb") * d("nu") * d("nu")) / (d("nb") * d("cu1") * d("cu2"))
    return (
        survivors.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("cb").alias("n_pair"),
            F.log(ratio).cast("decimal(20,9)").cast("double").alias("pmi"),
        )
    )
