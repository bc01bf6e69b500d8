"""Output checks: DuckDB evaluations of the same view and sketch (or
query) a workload ran on Spark, and the comparison rules.

The canonical row encoding and type classes come from the repository's
own oracle gate (tools/check_oracle.py), so a result passes here under
the same rules it passes there. Report jobs are checked against the
DuckDB SQL the gate already ships for them (``oracle_sql()`` in
``__spark_entry__``).
"""

from __future__ import annotations

import hashlib
import importlib
import os
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent


def _gate():
    """tools/check_oracle.py, imported without keeping the path entry
    it adds for its own command-line use."""
    saved = list(sys.path)
    sys.path.insert(0, str(ROOT / "tools"))
    try:
        return importlib.import_module("check_oracle")
    finally:
        sys.path[:] = saved


_GATE = _gate()
rows_to_multiset = _GATE.rows_to_multiset
type_class = _GATE.type_class


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive fingerprint of a result (rows as tuples in
    ``cols`` order)."""
    ms = rows_to_multiset(cols, rows)
    return hashlib.sha1(repr((sorted(cols), ms)).encode()).hexdigest()


def connect(tables: dict[str, str], work_dir: str) -> duckdb.DuckDBPyConnection:
    """One DuckDB view per table name over a parquet path or glob;
    anything DuckDB spills goes under ``work_dir``."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
    for name, path in tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def fetch(con, sql: str) -> tuple[list[str], list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), [str(t) for t in rel.types], rel.fetchall()


def same_rows(scols, srows, dcols, drows) -> str | None:
    """None when both results hold the same multiset of rows (columns
    matched by name), else a short description of the difference."""
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    if len(srows) != len(drows):
        return f"{len(srows)} rows vs {len(drows)}"
    if rows_to_multiset(scols, srows) != rows_to_multiset(dcols, drows):
        a = rows_to_multiset(scols, srows)
        b = rows_to_multiset(dcols, drows)
        return f"values differ: {[(x, y) for x, y in zip(a, b) if x != y][:2]}"
    return None


# ---------------------------------------------------- explore views


def _lit(v) -> str:
    return f"CAST({v!r} AS DOUBLE)" if isinstance(v, float) else repr(v)


def _range_sql(col: str, lo, hi) -> str:
    # the engine-wide missing rule: non-finite doubles never match
    return f"(isfinite({col}) AND {col} >= {_lit(lo)} AND {col} <= {_lit(hi)})"


def view_sql(table: str, filters: tuple) -> str:
    preds = []
    for f in filters:
        if f[0] == "range":
            preds.append(_range_sql(*f[1:]))
        else:
            preds.extend(_range_sql(*r) for r in f[1])
    where = " AND ".join(preds) if preds else "TRUE"
    return f"SELECT * FROM {table} WHERE {where}"


def _hist_sql(v: str, col: str, nb: int) -> str:
    return f"""
        WITH rng AS (SELECT min(CASE WHEN isfinite({col}) THEN {col} END) mn,
                            max(CASE WHEN isfinite({col}) THEN {col} END) mx
                     FROM ({v})),
        counted AS (
          SELECT CASE WHEN mx = mn THEN 0 ELSE
                 CAST(least(greatest(CAST(floor(({col} - mn) / ((mx - mn) / {nb}.0))
                 AS BIGINT), 0), {nb - 1}) AS INT) END AS bucket, COUNT(*) AS cnt
          FROM ({v}), rng WHERE isfinite({col}) GROUP BY 1)
        SELECT CAST(s.i AS INT) AS bucket, COALESCE(c.cnt, 0) AS cnt
        FROM generate_series(0, {nb - 1}) s(i)
        LEFT JOIN counted c ON c.bucket = s.i
    """


def _bucket(col: str, mn: str, mx: str, nb: int) -> str:
    return (f"CASE WHEN {mx} = {mn} THEN 0 ELSE CAST(least(greatest(CAST(floor(("
            f"{col} - {mn}) / (({mx} - {mn}) / {nb}.0)) AS BIGINT), 0), {nb - 1})"
            " AS INT) END")


def _after_start_sql(cols: list[str], start: tuple) -> str:
    """Lexicographic row >= start (ascending sort, inclusive anchor)."""
    terms = []
    for i, c in enumerate(cols):
        eq = [f"{cols[j]} = {_lit(start[j])}" for j in range(i)]
        op = ">=" if i == len(cols) - 1 else ">"
        terms.append("(" + " AND ".join(eq + [f"{c} {op} {_lit(start[i])}"]) + ")")
    return "(" + " OR ".join(terms) + ")"


def sketch_sql(v: str, kind: str, args: dict, start: tuple | None,
               spark_cols: list[str]) -> str:
    """DuckDB twin of one TableView sketch over view SQL ``v``. Output
    columns carry the Spark result's names."""
    if kind == "histogram":
        return _hist_sql(v, args["col"], args["buckets"])
    if kind == "cdf":
        return f"""
            SELECT bucket, CAST(SUM(cnt) OVER (ORDER BY bucket ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cnt
            FROM ({_hist_sql(v, args['col'], args['buckets'])})"""
    if kind == "histogram2d":
        x, y, xb, yb = args["x"], args["y"], args["xb"], args["yb"]
        return f"""
            WITH rng AS (SELECT min(CASE WHEN isfinite({x}) THEN {x} END) xmn,
                                max(CASE WHEN isfinite({x}) THEN {x} END) xmx,
                                min(CASE WHEN isfinite({y}) THEN {y} END) ymn,
                                max(CASE WHEN isfinite({y}) THEN {y} END) ymx
                         FROM ({v}))
            SELECT {_bucket(x, 'xmn', 'xmx', xb)} AS xbucket,
                   {_bucket(y, 'ymn', 'ymx', yb)} AS ybucket, COUNT(*) AS cnt
            FROM ({v}), rng WHERE isfinite({x}) AND isfinite({y}) GROUP BY 1, 2"""
    if kind == "next_k":
        cols = args["sort_cols"]
        where = _after_start_sql(cols, start) if start is not None else "TRUE"
        order = ", ".join(f"{c} NULLS LAST" for c in cols)
        return f"""
            SELECT {', '.join(cols)}, COUNT(*) AS cnt FROM ({v}) WHERE {where}
            GROUP BY {', '.join(cols)} ORDER BY {order} LIMIT {args['k']}"""
    if kind == "heavy_hitters":
        cols = ", ".join(args["cols"])
        return f"""
            SELECT {cols}, COUNT(*) AS cnt FROM ({v}) GROUP BY {cols}
            HAVING COUNT(*) >= {_lit(args['epsilon'])} * (SELECT COUNT(*) FROM ({v}))"""
    if kind == "quantiles":
        c = args["col"]
        qs = ", ".join(
            f"round(quantile_cont(CASE WHEN isfinite({c}) THEN {c} END, {p!r}), 4)"
            f" AS {name}" for p, name in zip(args["probs"], spark_cols))
        return f"SELECT {qs} FROM ({v})"
    if kind == "distinct_count":
        return f"SELECT count(DISTINCT {args['col']}) AS exact FROM ({v})"
    if kind == "col_stats":
        parts = []
        for c in args["cols"]:
            val = f"(CASE WHEN isfinite({c}) THEN {c} END)"
            dec = f"CAST({val} AS DECIMAL(12,4))"
            sq = f"CAST({val} AS DECIMAL(20,4)) * CAST({val} AS DECIMAL(20,4))"
            parts.append(f"""
                SELECT '{c}' AS col_name, count({val}) AS present_count,
                  CAST(COALESCE(SUM(CASE WHEN COALESCE(isfinite({c}), false)
                       THEN 0 ELSE 1 END), 0) AS BIGINT) AS missing_count,
                  round(CAST(min({val}) AS DOUBLE), 4) AS min_val,
                  round(CAST(max({val}) AS DOUBLE), 4) AS max_val,
                  CAST(SUM({dec}) AS DOUBLE) AS sum_val,
                  round(CAST(SUM({dec}) AS DOUBLE) / count({val}), 6) AS mean_val,
                  CASE WHEN count({val}) > 1 THEN
                    round(sqrt(GREATEST((CAST(SUM({sq}) AS DOUBLE)
                      - CAST(SUM({dec}) AS DOUBLE) * CAST(SUM({dec}) AS DOUBLE)
                        / count({val})) / (count({val}) - 1), 0.0)), 4)
                  END AS stddev_val
                FROM ({v})""")
        return " UNION ALL ".join(parts)
    raise ValueError(kind)


def check_op(con, table: str, filters: tuple, kind: str, args: dict,
             start: tuple | None, scols: list[str], srows: list[tuple]) -> str | None:
    """Compare one Spark sketch result with DuckDB; None when it agrees."""
    v = view_sql(table, filters)
    if kind == "table_summary":
        dcols, dtypes, _ = fetch(con, f"SELECT * FROM {table} LIMIT 0")
        (n,), = con.sql(f"SELECT count(*) FROM ({v})").fetchall()
        got = [(r[scols.index("col_name")], type_class(r[scols.index("col_type")]),
                r[scols.index("row_count")]) for r in srows]
        want = [(c, type_class(t), n) for c, t in zip(dcols, dtypes)]
        return None if sorted(got) == sorted(want) else f"{got} vs {want}"
    if kind == "quantiles_approx":
        return _check_approx_quantiles(con, v, args, srows[0][0])
    if kind == "distinct_count":
        (exact,), = con.sql(sketch_sql(v, kind, args, None, scols)).fetchall()
        got = srows[0][0]
        # HyperLogLog++ at rsd 0.05: allow three standard errors
        return None if abs(got - exact) <= 0.15 * exact else f"{got} vs exact {exact}"
    dcols, _, drows = fetch(con, sketch_sql(v, kind, args, start, scols))
    return same_rows(scols, srows, dcols, drows)


def _check_approx_quantiles(con, v: str, args: dict, got: list) -> str | None:
    """percentile_approx at accuracy A returns, for each p, a value
    whose rank is within n/A of p*n."""
    c = args["col"]
    if len(got) != len(args["probs"]):
        return f"{len(got)} quantiles for {len(args['probs'])} probs"
    for p, x in zip(args["probs"], got):
        (below, at_or_below, n), = con.sql(
            f"SELECT count(*) FILTER (WHERE {c} < {_lit(x)}),"
            f" count(*) FILTER (WHERE {c} <= {_lit(x)}), count(*)"
            f" FROM ({v}) WHERE isfinite({c})").fetchall()
        slack = n / 10000 + 1
        if not (below - slack <= p * n <= at_or_below + slack):
            return f"p={p}: value {x} has ranks {below}..{at_or_below} of {n}"
    return None


# ----------------------------------------------------------- report


def report_oracle() -> dict[str, str]:
    """The gate's DuckDB SQL for every query key."""
    saved = list(sys.path)
    sys.path.insert(0, str(ROOT))
    try:
        return importlib.import_module("__spark_entry__").oracle_sql()
    finally:
        sys.path[:] = saved


def check_query(con, sql: str, scols: list[str], stypes: dict[str, str],
                srows: list[tuple]) -> str | None:
    """The gate's rule: same columns, type classes, row count and
    order-insensitive values (rows+schema only where the gate says so)."""
    dcols, dtypes, drows = fetch(con, sql)
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} vs {sorted(dcols)}"
    dt = dict(zip(dcols, dtypes))
    for c in scols:
        if type_class(stypes[c]) != type_class(dt[c]):
            return f"type of {c}: {stypes[c]} vs {dt[c]}"
    if len(srows) != len(drows):
        return f"{len(srows)} rows vs {len(drows)}"
    if "rows+schema oracle only" in sql:
        return None
    return same_rows(scols, srows, dcols, drows)
