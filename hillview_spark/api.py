"""User-facing facade: the Hillview UI's interaction model on Spark.

In Hillview the browser holds a *view stack*: each UI action (filter,
projection, computed column) derives a new immutable table view, and
sketches (histogram, next-K page, heavy hitters, …) run against the
current view (web/src/main/webapp's TableView / BigTableView drive
platform RPCs). TableView reproduces that model: transformations
return a new TableView (lazily composed DataFrame — Catalyst fuses
the whole stack into one scan), sketch methods return small result
DataFrames.

    t = TableView.parquet(spark, ".../lineitem.parquet")
    v = (t.filter_range("l_shipdate", "1996-01-01", "1996-12-31")
          .filter_string("l_returnflag", "A", mode="exact")
          .with_column("revenue", "l_extendedprice * (1 - l_discount)"))
    v.histogram("revenue", buckets=50)         # small DF of buckets
    v.page(["l_orderkey"], k=20)               # spreadsheet page 1
    v.page(["l_orderkey"], k=20, start=(123,)) # scroll
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from hillview_spark.operators import (
    correlation,
    filters as _filters,
    heavy_hitters as _hh,
    histogram as _hist,
    maps as _maps,
    sampling as _sampling,
    spreadsheet as _sheet,
    stats as _stats,
)


class TableView:
    """An immutable view over a distributed table; every derivation
    shares the underlying scan and composes inside Catalyst."""

    def __init__(self, df: DataFrame):
        self.df = df

    # ---------------------------------------------------------- sources

    @classmethod
    def parquet(cls, spark: SparkSession, path: str) -> "TableView":
        return cls(spark.read.parquet(path))

    @classmethod
    def csv(cls, spark: SparkSession, path: str, **kwargs) -> "TableView":
        from hillview_spark.sources.readers import read_csv

        return cls(read_csv(spark, path, **kwargs))

    # ----------------------------------------------------- derivations

    def _derive(self, df: DataFrame) -> "TableView":
        return TableView(df)

    def _dtype_of(self, col: str) -> str | None:
        """Single-field dtype lookup (r11 review: dict(df.dtypes)
        per filter call rebuilt the whole schema dict to read one
        entry — the exact per-column width cost finite_values
        exists to avoid; df.schema is cached on the DataFrame)."""
        try:
            return self.df.schema[col].dataType.simpleString()
        except KeyError:
            return None  # let the filter itself raise the clear error

    def filter_range(self, col: str, lo=None, hi=None, **kw) -> "TableView":
        # dtype dispatch (r10 advice): the view knows the column's
        # dtype, so int/decimal columns skip the no-op finite guard
        # and their range predicates stay pushdown-eligible
        kw.setdefault("dtype", self._dtype_of(col))
        return self._derive(self.df.where(_filters.range_filter(col, lo, hi, **kw)))

    def filter_string(self, col: str, pattern: str, mode: str = "substring",
                      **kw) -> "TableView":
        return self._derive(
            self.df.where(_filters.string_filter(col, pattern, mode=mode, **kw))
        )

    def filter_comparison(self, col: str, op: str, value) -> "TableView":
        return self._derive(
            self.df.where(
                _filters.comparison_filter(
                    col, op, value, dtype=self._dtype_of(col)
                )
            )
        )

    def brush(self, ranges: list[dict], complement: bool = False) -> "TableView":
        """N-D brush selection: the view a heatmap/trellis drag-select
        derives (one range dict per charted column)."""
        return self._derive(
            self.df.where(_filters.range_filter_array(ranges, complement, self.df))
        )

    def search(self, cols: list[str], pattern: str, mode: str = "substring",
               **kw) -> "TableView":
        """Global search: rows matching the pattern in ANY column."""
        return self._derive(
            self.df.where(_filters.string_columns_filter(cols, pattern, mode, **kw))
        )

    def quantize(self, col: str, lo: float, hi: float, buckets: int) -> "TableView":
        """Snap a column onto a fixed policy grid before sketching
        (the DP-ready engine layer)."""
        return self._derive(_maps.quantize_column(self.df, col, lo, hi, buckets))

    def project(self, cols: list[str]) -> "TableView":
        return self._derive(_maps.project(self.df, cols))

    def with_column(self, name: str, sql_expr: str) -> "TableView":
        return self._derive(_maps.computed_column(self.df, name, sql_expr))

    def convert(self, col: str, to_type: str, new_name: str | None = None) -> "TableView":
        return self._derive(_maps.convert_column(self.df, col, to_type, new_name))

    def rename(self, old: str, new: str) -> "TableView":
        return self._derive(_maps.rename_column(self.df, old, new))

    def sample(self, fraction: float, seed: int = 42) -> "TableView":
        return self._derive(_sampling.random_sample(self.df, fraction, seed))

    def union(self, other: "TableView") -> "TableView":
        return self._derive(_maps.set_operation(self.df, other.df, "union"))

    def intersect(self, other: "TableView") -> "TableView":
        return self._derive(_maps.set_operation(self.df, other.df, "intersect"))

    def minus(self, other: "TableView") -> "TableView":
        return self._derive(_maps.set_operation(self.df, other.df, "except"))

    # --------------------------------------------------------- sketches

    def schema_summary(self) -> DataFrame:
        return _stats.table_summary(self.df)

    def col_stats(self, cols: list[str]) -> DataFrame:
        return _stats.basic_col_stats(self.df, cols)

    def data_range(self, col: str) -> DataFrame:
        return _hist.data_range(self.df, col)

    def histogram(self, col: str, buckets: int = 40) -> DataFrame:
        return _hist.histogram1d(self.df, col, buckets)

    def histogram2d(self, xcol: str, ycol: str, xb: int = 25, yb: int = 25) -> DataFrame:
        return _hist.histogram2d(self.df, xcol, ycol, xb, yb)

    def cdf(self, col: str, buckets: int = 100) -> DataFrame:
        return _hist.cdf(self.df, col, buckets)

    def quantiles(self, col: str, probs: list[float]) -> DataFrame:
        return _stats.quantiles(self.df, col, probs)

    def distinct_count(self, col: str, approx: bool = True) -> DataFrame:
        if approx:
            return _stats.distinct_count_approx(self.df, col)
        return _stats.distinct_count(self.df, col)

    def heavy_hitters(self, cols: list[str], epsilon: float = 0.01) -> DataFrame:
        return _hh.heavy_hitters(self.df, cols, epsilon)

    def page(self, sort_cols: list[str], k: int = 20,
             ascending: list[bool] | None = None, start: tuple | None = None,
             inclusive: bool = True) -> DataFrame:
        """One spreadsheet page: the next k distinct sort-key rows
        (with duplicate counts) at-or-after `start` — the reference's
        anchor-INCLUSIVE contract (NextKSketch.java:100-103: the UI's
        topRow reappears as the first row of the next page).
        inclusive=False gives strictly-after for callers composing
        their own pagination."""
        return _sheet.next_k(self.df, sort_cols, k, ascending, start,
                             inclusive=inclusive)

    def find(self, col: str, pattern: str, mode: str = "substring") -> DataFrame:
        return _sheet.find_rows(self.df, col, pattern, mode)

    def correlations(self, cols: list[str],
                     sample_fraction: float | None = None) -> DataFrame:
        return correlation.corr_matrix(self.df, cols,
                                       sample_fraction=sample_fraction)

    def pca(self, cols: list[str], k: int = 2) -> DataFrame:
        return correlation.pca_project(self.df, cols, k)

    def scroll_quantiles(self, sort_cols: list[str], k: int = 50) -> DataFrame:
        """Row-tuple quantile boundaries under the view's sort order —
        powers proportional scroll-to-position."""
        return _stats.row_quantiles(self.df, sort_cols, k)


def range_filter_desc(col: str, lo=None, hi=None, **kw) -> str:
    """Canonical lineage description of a range filter — module-level
    (not buried in the method) so an out-of-engine auditor/oracle can
    rebuild a session's effective seed from the filter parameters
    alone."""
    return f"range:{col}:{lo!r}:{hi!r}:{sorted(kw.items())!r}"


def fallback_index(col: str, n_schema_cols: int) -> int:
    """Stable PRF index for a column (or column combination) outside
    the privacy schema: schema positions own [0, n); everything else
    hashes into [n, 2^31-1) so no two names share a draw. Module-
    level so the session oracle can recompute it."""
    import hashlib

    h = int.from_bytes(hashlib.md5(col.encode()).digest()[:4], "big")
    return n_schema_cols + (h % (2**31 - 1 - n_schema_cols))


def effective_seed(seed: int, lineage: tuple[str, ...]) -> int:
    """The lineage-derived PRF seed (see PrivateTableView._seed for
    why filtered views must draw fresh noise). Exposed so the DuckDB
    oracle for the composed-session gate key recomputes the SAME
    seed from (session seed, filter descriptions)."""
    if not lineage:
        return seed
    import hashlib

    key = "|".join((str(seed),) + tuple(lineage)).encode()
    h = hashlib.md5(key).digest()
    return int.from_bytes(h[:8], "big") & 0x7FFFFFFFFFFFFFFF


class PrivateTableView:
    """A private session over a table — targets/DPWrapper.java wrapping
    a TableTarget: every sketch reads the curator-QUANTIZED view
    (table/QuantizedTable.java) and returns binary-mechanism noisy
    results, with per-column(-combination) epsilons from the
    PrivacySchema and a deterministic seed standing in for the
    session's secret key (security/SecureLaplace.java). Downstream
    filters still derive views — quantization composes under
    Catalyst like any other projection."""

    def __init__(self, view: TableView, schema, seed: int = 0):
        from hillview_spark.operators.privacy import private_view

        self.schema = schema
        self.seed = seed
        self.df = private_view(view.df, schema)
        # stable per-column PRF index, as the reference indexes noise
        # by column position in the privacy schema
        self._col_index = {c: i for i, c in enumerate(sorted(schema.quantization))}
        # canonical descriptions of the filters applied to this view;
        # folded into the PRF seed so each derived view draws FRESH
        # noise (see _seed)
        self._lineage: tuple[str, ...] = ()

    def _index_of(self, col: str) -> int:
        """PRF index for any column: schema position, or a stable
        name hash for columns outside the schema — two unlisted
        columns must never share a draw (index-0 fallback would let
        their releases subtract to an exactly-denoised difference).
        The fallback stays strictly below 2^31 (fallback_index), so
        every index is a signed 32-bit value."""
        if col in self._col_index:
            return self._col_index[col]
        return fallback_index(col, len(self._col_index))

    def _seed(self) -> int:
        """Effective PRF seed for this view: the session seed on the
        base view; on a FILTERED view, a hash of (seed, filter
        lineage). Without this, a filtered view's histogram would
        reuse bit-identical per-bucket noise and subtracting it from
        the unfiltered release would cancel the noise EXACTLY
        (integer counts + identical floor(c+n+0.5) rounding) —
        handing an attacker the exact count of rows matching the
        filter per bucket. Independent draws reduce the difference
        to ordinary two-release noise; budget accounting across
        views remains the curator's ledger, as in the reference."""
        return effective_seed(self.seed, self._lineage)

    def _derive(self, df, desc: str) -> "PrivateTableView":
        out = object.__new__(PrivateTableView)
        out.schema, out.seed, out.df = self.schema, self.seed, df
        out._col_index = self._col_index
        out._lineage = self._lineage + (desc,)
        return out

    def filter_range(self, col: str, lo=None, hi=None, **kw) -> "PrivateTableView":
        desc = range_filter_desc(col, lo, hi, **kw)
        return self._derive(
            self.df.where(_filters.range_filter(col, lo, hi, **kw)), desc
        )

    def histogram(self, col: str, buckets: int = 40, cdf: bool = False) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        q = self.schema.quantization[col]
        return _priv.dp_histogram(
            self.df, col, q.global_min, q.global_max, q.granularity,
            self.schema.epsilon(col), buckets, self._seed(),
            self._col_index[col], cdf,
        )

    def histogram_string(self, col: str, buckets: int | None = None) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        q = self.schema.quantization[col]
        return _priv.dp_histogram_string(
            self.df, col, q.left_boundaries, self.schema.epsilon(col),
            buckets, self._seed(), self._col_index[col],
            # r10 review: the curator's globalMax was forwarded on the
            # schema-direct path (r9 fix) but still dropped HERE, so
            # the session path counted above-ceiling rows into the
            # last bucket (private_view's old >=max snap compounded it
            # by erasing the above-max distinction before the sketch —
            # quantize_string_column now quarantines strictly-above to
            # missing, and this forward keeps the two paths identical
            # even on un-snapped input)
            global_max=q.global_max,
        )

    def heatmap(self, xcol: str, ycol: str, xb: int = 25, yb: int = 25) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        qx, qy = self.schema.quantization[xcol], self.schema.quantization[ycol]
        return _priv.dp_heatmap(
            self.df, xcol, ycol,
            qx.global_min, qx.global_max, qx.granularity,
            qy.global_min, qy.global_max, qy.granularity,
            self.schema.epsilon(xcol, ycol), xb, yb, self._seed(),
            self._col_index[xcol], self._col_index[ycol],
        )

    def quantiles(self, col: str, probs: list[float], buckets: int = 40) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        q = self.schema.quantization[col]
        return _priv.dp_quantiles(
            self.df, col, q.global_min, q.global_max, q.granularity,
            self.schema.epsilon(col), probs, buckets, self._seed(),
            self._col_index[col],
        )

    def count(self, epsilon: float = 1.0) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        return _priv.dp_count(self.df, epsilon, self._seed())

    def distinct_count(self, col: str, epsilon: float = 1.0) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        return _priv.dp_distinct_count(
            self.df, col, epsilon, self._seed(), self._index_of(col)
        )

    def page(self, sort_cols: list[str], epsilon: float = 1.0, k: int = 20,
             ascending: list[bool] | None = None,
             start: tuple | None = None) -> DataFrame:
        from hillview_spark.operators import privacy as _priv

        return _priv.dp_next_k(
            self.df, sort_cols, epsilon, k, ascending, start, self._seed(),
            self._index_of(",".join(sort_cols)),
        )
