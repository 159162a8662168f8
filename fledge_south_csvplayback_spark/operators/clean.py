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
  ties) and finds both neighbours with last-ignorenulls over running
  frames on that number, ascending for the previous known value and
  descending for the next, then weights by row distance: two sorts and
  O(n) work per partition. Windows accept ``partition_cols`` (e.g.
  per-device/per-file) so state never funnels through one partition at
  scale; the ETL tool's single-file semantics use the global window
  deliberately.
- Flattening is ``from_json`` (F7) — the idiomatic upgrade of the
  reference's per-row string splitting (process_csv_data.py:74-80).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from fledge_south_csvplayback_spark.schema import qcol, qname


def _is_blank(c: str) -> Column:
    """Whitespace-only cell (reference str.isspace(), csvplayback.py:685)."""
    return qcol(c).isNotNull() & (F.trim(qcol(c)) == "")


def whitespace_to_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """F4: whitespace-only strings -> null (process_csv_data.py:119)."""
    out = df
    for c in cols:
        out = out.withColumn(c, F.when(_is_blank(c), None).otherwise(qcol(c)))
    return out


def null_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """A1: per-column any-null / any-blank flags, one aggregate pass.

    The reference reports and shuts playback down when ignoreNaN=report
    finds a hole (csvplayback.py:686-691); here the report is the
    operator, policy belongs to the caller.
    """
    aggs = []
    for c in cols:
        aggs.append(F.max(qcol(c).isNull()).alias(f"_n_{c}"))
        aggs.append(F.max(_is_blank(c)).alias(f"_b_{c}"))
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
# ROW ignore nulls identically.
# ---------------------------------------------------------------------------
def _w(order_cols: list[str], partition_cols: list[str] | None) -> WindowSpec:
    w = (
        Window.partitionBy(*[qcol(c) for c in partition_cols])
        if partition_cols
        else Window.partitionBy()
    )
    return w.orderBy(*[qcol(c) for c in order_cols])


def rolling_mean_fill(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    w = _w(order_cols, partition_cols).rowsBetween(-1, 0)
    out = df
    for c in cols:
        out = out.withColumn(c, F.coalesce(qcol(c), F.avg(qcol(c)).over(w)))
    return out


def rolling_median_fill(
    df: DataFrame,
    cols: list[str],
    order_cols: list[str],
    partition_cols: list[str] | None = None,
) -> DataFrame:
    w = _w(order_cols, partition_cols).rowsBetween(-1, 0)
    out = df
    for c in cols:
        out = out.withColumn(
            c, F.coalesce(qcol(c), F.expr(f"percentile({qname(c)}, 0.5)").over(w))
        )
    return out


# ---------------------------------------------------------------------------
# W3: linear / nearest interpolation, limit_direction='both'
# (process_csv_data.py:124-126). A row number over ``order_cols`` fixes
# one total order per partition (ties in ``order_cols`` are broken once,
# here, so both neighbours and the distance weights see the same order).
# Both neighbour lookups are then running frames over that number: the
# previous known value is last-ignorenulls from unbounded preceding to
# the current row ordered by it ascending, the next known value the same
# aggregate ordered descending. Spark keeps a running frame's state as
# it streams the sorted partition, so each partition costs two sorts and
# O(n) aggregation, where a frame running to unbounded following would
# be re-evaluated per row, O(n^2). Leading/trailing gaps take the
# nearest existing value; 'nearest' ties (equidistant) take the earlier
# neighbour.
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
    # the row-number helper must not collide with an input column (any
    # CSV header reaches here); Spark resolves names case-insensitively
    taken = {c.lower() for c in df.columns}
    rn_name = "_rn"
    while rn_name in taken:
        rn_name = "_" + rn_name
    rn = F.col(rn_name)
    part = Window.partitionBy(*[qcol(c) for c in partition_cols or []])
    w_prev = part.orderBy(rn.asc()).rowsBetween(Window.unboundedPreceding, 0)
    w_next = part.orderBy(rn.desc()).rowsBetween(Window.unboundedPreceding, 0)
    out = df.withColumn(rn_name, F.row_number().over(_w(order_cols, partition_cols)))
    for c in cols:
        rn_if = F.when(qcol(c).isNotNull(), rn)
        prev_v = F.last(qcol(c), ignorenulls=True).over(w_prev)
        next_v = F.last(qcol(c), ignorenulls=True).over(w_next)
        prev_rn = F.last(rn_if, ignorenulls=True).over(w_prev)
        next_rn = F.last(rn_if, ignorenulls=True).over(w_next)
        if method == "linear":
            interp = prev_v + (next_v - prev_v) * (
                (rn - prev_rn) / (next_rn - prev_rn)
            )
        else:
            interp = F.when(
                (rn - prev_rn) <= (next_rn - rn), prev_v
            ).otherwise(next_v)
        out = out.withColumn(
            c,
            F.when(qcol(c).isNotNull(), qcol(c))
            .when(prev_v.isNull(), next_v)
            .when(next_v.isNull(), prev_v)
            .otherwise(interp),
        )
    return out.drop(rn_name)


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
    df = whitespace_to_null(df, cols)
    for c in cols:
        df = df.withColumn(c, qcol(c).cast("double"))
    # ONE aggregate pass decides both policies: count(c)==0 -> dead
    # (all-null, always dropped), count(c)<count(*) -> holed (dropped
    # under method='drop'). Positional access so a data column named
    # like the total alias can't collide.
    counts = df.agg(
        F.count(F.lit(1)), *[F.count(qcol(c)) for c in cols]
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
