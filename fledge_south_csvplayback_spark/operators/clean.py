"""Cleaning / NaN-repair operators (A1-A2, W1-W3, F4, E1-E2).

Re-expresses the reference's two cleaning surfaces:

- the plugin's ``ignoreNaN=report`` scan (reference
  csvplayback.py:681-691): any-null / any-whitespace per column;
- the offline ETL tool ``process_csv_data.py``: whitespace->NaN
  (line 119), all-null column drop (113-114,137-139), rolling
  mean/median fill (128-134), linear/nearest interpolation with
  ``limit_direction='both'`` (124-126), and the Fledge-dump
  ``reading``-JSON flattening (55-84).

Spark shapes:

- The report and the all-null test are single-pass aggregates (one row
  over any data size; map-side partial aggregation).
- Rolling fills are 2-row trailing windows. Interpolation numbers the
  rows once (``row_number`` over the order columns, which also breaks
  ties), then computes each column's four neighbours once, as named
  columns: the next known value and its row number from last-ignorenulls
  over a running frame on that number ordered descending, the previous
  ones from the same frame ordered ascending. A final projection weights
  by row distance: three sorts and O(n) work per partition, and the
  ascending window runs last, so rows leave in order-column order.
  Windows accept ``partition_cols`` (e.g. per-device/per-file) so state
  never funnels through one partition at scale; the ETL tool's
  single-file semantics use the global window deliberately.
- The blank, cast, rolling and interpolation steps are SQL text, one
  ``selectExpr`` per step over ``qname``-quoted names. Every PySpark
  Column/``functions`` call captures its call-site origin (a stack walk
  and several JVM round trips), and a Column-API fill makes a few dozen
  such calls per column; the SQL text makes none, so the driver-side
  build stays a few milliseconds per step whatever the column count.
- Flattening is ``from_json`` (F7) — the idiomatic upgrade of the
  reference's per-row string splitting (process_csv_data.py:74-80).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fledge_south_csvplayback_spark.schema import qcol, qname


def _blank(q: str) -> str:
    """SQL: the quoted column ``q`` holds a whitespace-only cell
    (reference str.isspace(), csvplayback.py:685)."""
    return f"{q} IS NOT NULL AND trim({q}) = ''"


def _blank_to_null(q: str) -> str:
    """SQL: ``q`` with whitespace-only cells as NULL (process_csv_data.py:119)."""
    return f"CASE WHEN {_blank(q)} THEN NULL ELSE {q} END"


def _replace(
    df: DataFrame, exprs: dict[str, str], columns: list[str] | None = None
) -> DataFrame:
    """One ``selectExpr`` of ``columns`` (default: all of ``df``'s) in
    order, each replaced by its SQL expression in ``exprs`` if it has
    one and passed through otherwise."""
    return df.selectExpr(
        *[
            f"{exprs[c]} AS {qname(c)}" if c in exprs else qname(c)
            for c in (df.columns if columns is None else columns)
        ]
    )


def _over(
    order: list[str], partition_cols: list[str] | None, frame: str = ""
) -> str:
    """SQL window clause; ``order`` holds the quoted ORDER BY terms."""
    part = (
        f"PARTITION BY {', '.join(qname(c) for c in partition_cols)} "
        if partition_cols
        else ""
    )
    return f"OVER ({part}ORDER BY {', '.join(order)}{frame})"


def whitespace_to_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """F4: whitespace-only strings -> null (process_csv_data.py:119)."""
    return _replace(df, {c: _blank_to_null(qname(c)) for c in cols})


def null_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """A1: per-column any-null / any-blank flags, one aggregate pass.

    The reference reports and shuts playback down when ignoreNaN=report
    finds a hole (csvplayback.py:686-691); here the report is the
    operator, policy belongs to the caller.
    """
    aggs = []
    for c in cols:
        aggs.append(F.max(qcol(c).isNull()).alias(f"_n_{c}"))
        aggs.append(F.max(F.expr(_blank(qname(c)))).alias(f"_b_{c}"))
    one = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                qcol(f"_n_{c}").alias("any_null"),
                qcol(f"_b_{c}").alias("any_blank"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(per_col).alias("r")).select("r.*")


def all_null_columns(df: DataFrame, cols: list[str]) -> list[str]:
    """A2: columns with zero non-null values (process_csv_data.py:113-114).

    One aggregate row collected to the driver — a schema decision, not a
    data-path collect.
    """
    row = df.agg(*[F.count(qcol(c)).alias(c) for c in cols]).collect()[0]
    return [c for c in cols if row[c] == 0]


# ---------------------------------------------------------------------------
# W1/W2: 2-row trailing rolling fills (process_csv_data.py:128-134).
# pandas fillna(col.rolling(2, min_periods=1).mean()): at a NaN position
# the window is {prev, NaN} and pandas skips NaN -> prev; two NaNs in a
# row stay NaN. avg/percentile over ROWS BETWEEN 1 PRECEDING AND CURRENT
# ROW ignore nulls identically. Each column's window reads only its own
# input values, so all columns fill in one projection.
# ---------------------------------------------------------------------------
def _rolling_fill(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None,
    agg: str,
) -> DataFrame:
    w = _over(
        [qname(c) for c in order_cols],
        partition_cols,
        " ROWS BETWEEN 1 PRECEDING AND CURRENT ROW",
    )
    return _replace(
        df, {c: f"coalesce({qname(c)}, {agg.format(qname(c))} {w})" for c in cols}
    )


def rolling_mean_fill(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    return _rolling_fill(df, cols, order_cols, partition_cols, "avg({})")


def rolling_median_fill(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    return _rolling_fill(df, cols, order_cols, partition_cols, "percentile({}, 0.5)")


# ---------------------------------------------------------------------------
# W3: linear / nearest interpolation, limit_direction='both'
# (process_csv_data.py:124-126), as three SQL-text projections and a
# final one:
#
# 1. a row number over ``order_cols`` fixes one total order per
#    partition (ties in ``order_cols`` are broken once, here, so both
#    neighbours and the distance weights see the same order);
# 2. per column, the next known value and its row number: last-
#    ignorenulls from unbounded preceding to the current row, ordered by
#    the row number descending;
# 3. per column, the previous known value and its row number: the same
#    aggregates ordered ascending;
# 4. the fill: known cells kept, leading/trailing gaps take the nearest
#    existing value, interior gaps the linear weight by row distance or,
#    for 'nearest', the closer neighbour (equidistant ties take the
#    earlier one).
#
# Each neighbour is a named helper column, computed once: 4 window
# aggregates per column, where Column expressions that reference a
# neighbour several times each plan their own copy. Spark keeps a
# running frame's state as it streams the sorted partition, so the
# partition costs three sorts and O(n) aggregation, where a frame
# running to unbounded following would be re-evaluated per row, O(n^2).
# The ascending window runs last, so the output leaves in row-number
# order and the ETL tool writes a file in time order. Helper names are
# fresh against the input's columns (any CSV header reaches here).
# ---------------------------------------------------------------------------
def interpolate_fill(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
    method: str = "linear",
) -> DataFrame:
    if method not in ("linear", "nearest"):
        raise ValueError(f"unsupported interpolation method {method!r}")
    # Spark resolves names case-insensitively
    taken = {c.lower() for c in df.columns}

    def fresh(name: str) -> str:
        while name.lower() in taken:
            name = "_" + name
        taken.add(name.lower())
        return qname(name)

    rn = fresh("_rn")
    # per column: next value, next row number, previous value, previous
    # row number
    helpers = [
        tuple(fresh(f"_{kind}{i}") for kind in ("nv", "nr", "pv", "pr"))
        for i in range(len(cols))
    ]
    running = " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"

    def neighbours(frame: DataFrame, order: str, slot: int) -> DataFrame:
        w = _over([f"{rn} {order}"], partition_cols, running)
        exprs = []
        for c, names in zip(cols, helpers):
            q, val, row = qname(c), names[slot], names[slot + 1]
            exprs.append(f"last({q}, true) {w} AS {val}")
            exprs.append(
                f"last(CASE WHEN {q} IS NOT NULL THEN {rn} END, true) {w} AS {row}"
            )
        return frame.selectExpr("*", *exprs)

    by_order = _over([qname(c) for c in order_cols], partition_cols)
    out = df.selectExpr("*", f"row_number() {by_order} AS {rn}")
    out = neighbours(out, "DESC", 0)
    out = neighbours(out, "ASC", 2)
    fills = {}
    for c, (nv, nr, pv, pr) in zip(cols, helpers):
        q = qname(c)
        if method == "linear":
            interp = f"{pv} + ({nv} - {pv}) * (({rn} - {pr}) / ({nr} - {pr}))"
        else:
            interp = f"CASE WHEN ({rn} - {pr}) <= ({nr} - {rn}) THEN {pv} ELSE {nv} END"
        fills[c] = (
            f"CASE WHEN {q} IS NOT NULL THEN {q} WHEN {pv} IS NULL THEN {nv}"
            f" WHEN {nv} IS NULL THEN {pv} ELSE {interp} END"
        )
    return _replace(out, fills, df.columns)


# ---------------------------------------------------------------------------
# W3 'cubic' (process_csv_data.py:124 accepts method='cubic'): natural
# cubic spline through the non-null samples, evaluated at the null
# positions. pandas delegates method='cubic' to SciPy, which this
# environment excludes, so the solve is a self-contained numpy
# tridiagonal (Thomas) sweep inside applyInPandas — the documented
# pandas-UDF fallback for semantics the built-in expressions can't
# express. Leading/trailing gaps clamp to the nearest knot
# (limit_direction='both' edge behavior, same as the linear/nearest
# paths above).
# ---------------------------------------------------------------------------
def interpolate_cubic(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Fill nulls in numeric ``cols`` with a natural cubic spline fit
    per group. One Arrow batch group per ``partition_cols`` combination
    (per device / per file); ``None`` makes the whole input a single
    group — the ETL tool's single-file semantics, deliberate there, but
    at scale always pass ``partition_cols`` so the spline state never
    funnels through one task.
    """
    cols_l, order_l = list(cols), list(order_cols)

    # local closure: cloudpickle serializes it by value, so executor
    # Python workers never need this module importable
    def _fill(pdf):
        import numpy as np

        pdf = pdf.sort_values(order_l, kind="mergesort").reset_index(drop=True)
        x_all = np.arange(len(pdf), dtype=float)
        for c in cols_l:
            y = pdf[c].to_numpy(dtype=float)
            known = ~np.isnan(y)
            n = int(known.sum())
            if n == 0 or n == len(y):
                continue
            xk, yk = x_all[known], y[known]
            if n == 1:
                y[~known] = yk[0]
                pdf[c] = y
                continue
            h = np.diff(xk)
            if n == 2:
                m = np.zeros(2)
            else:
                # natural spline: tridiag system for interior second
                # derivatives; forward sweep then back substitution
                lo, di, up = h[:-1], 2.0 * (h[:-1] + h[1:]), h[1:]
                rhs = 6.0 * (
                    (yk[2:] - yk[1:-1]) / h[1:] - (yk[1:-1] - yk[:-2]) / h[:-1]
                )
                k = n - 2
                cp, dp = np.empty(k), np.empty(k)
                cp[0] = up[0] / di[0]
                dp[0] = rhs[0] / di[0]
                for i in range(1, k):
                    den = di[i] - lo[i] * cp[i - 1]
                    cp[i] = up[i] / den
                    dp[i] = (rhs[i] - lo[i] * dp[i - 1]) / den
                mi = np.empty(k)
                mi[-1] = dp[-1]
                for i in range(k - 2, -1, -1):
                    mi[i] = dp[i] - cp[i] * mi[i + 1]
                m = np.concatenate([[0.0], mi, [0.0]])
            for j in np.where(~known)[0]:
                xj = x_all[j]
                if xj <= xk[0]:
                    y[j] = yk[0]
                elif xj >= xk[-1]:
                    y[j] = yk[-1]
                else:
                    i = int(np.searchsorted(xk, xj)) - 1
                    hi = xk[i + 1] - xk[i]
                    t1, t0 = xk[i + 1] - xj, xj - xk[i]
                    y[j] = (
                        (m[i] * t1**3 + m[i + 1] * t0**3) / (6.0 * hi)
                        + (yk[i] / hi - m[i] * hi / 6.0) * t1
                        + (yk[i + 1] / hi - m[i + 1] * hi / 6.0) * t0
                    )
            pdf[c] = y
        return pdf

    # string literal: an *integer* literal in groupBy is read as a
    # column ordinal under spark.sql.groupByOrdinal
    grouped = (
        df.groupBy(*partition_cols) if partition_cols else df.groupBy(F.lit("g"))
    )
    return grouped.applyInPandas(_fill, df.schema)


# ---------------------------------------------------------------------------
# E1: Fledge-dump flattening (process_csv_data.py:55-84) — the dump's
# `reading` column is a JSON object string; from_json replaces the
# reference's per-row split(',')[i].split(':')[j] chains.
# ---------------------------------------------------------------------------
def flatten_fledge_dump(
    df: DataFrame,
    keys: list[str],
    reading_col: str = "reading",
    ts_col: str = "user_ts",
) -> DataFrame:
    m = F.from_json(qcol(reading_col), "map<string,double>")
    return df.select(
        *[m[k].alias(k) for k in keys], qcol(ts_col)
    )


# ---------------------------------------------------------------------------
# E2: NaN repair composition (process_csv_data.py:87-148): blanks ->
# null, numeric cast, drop all-null columns, then fill or drop-column.
# ---------------------------------------------------------------------------
def repair_nans(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    method: str = "linear",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    df = _replace(
        df, {c: f"CAST({_blank_to_null(qname(c))} AS DOUBLE)" for c in cols}
    )
    # ONE aggregate pass decides both policies: count(c)==0 -> dead
    # (all-null, always dropped), count(c)<count(*) -> holed (dropped
    # under method='drop'). Positional access so a data column named
    # like the total alias can't collide.
    counts = df.selectExpr(
        "count(1)", *[f"count({qname(c)})" for c in cols]
    ).collect()[0]
    total, per_col = counts[0], dict(zip(cols, counts[1:]))
    dead = [c for c in cols if per_col[c] == 0]
    df = df.drop(*dead)
    live = [c for c in cols if per_col[c] > 0]
    if method == "drop":
        # reference 'drop' removes any column still containing NaN
        return df.drop(*[c for c in live if per_col[c] < total])
    if method == "rolling_mean":
        return rolling_mean_fill(df, live, order_cols, partition_cols)
    if method == "rolling_median":
        return rolling_median_fill(df, live, order_cols, partition_cols)
    if method == "cubic":
        return interpolate_cubic(df, live, order_cols, partition_cols)
    return interpolate_fill(df, live, order_cols, partition_cols, method)
