"""Cleaning-suite semantics pinned against the reference's own pandas
calls (process_csv_data.py:109-148) executed on the dirty fixture."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from fledge_south_csvplayback_spark.operators import clean
from fledge_south_csvplayback_spark.operators.clean_queries import (
    _dirty,
    _dirty_numeric,
    clean_repair_nans,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "dirty.csv")


def _pandas_numeric() -> pd.DataFrame:
    # the reference's own prep: whitespace->NaN then float cast
    # (process_csv_data.py:119-121)
    df = pd.read_csv(FIXTURE, dtype=str)
    for c in ("a", "b"):
        df[c] = df[c].replace(r"^\s*$", np.nan, regex=True).astype("float64")
    return df


def _spark_sorted(df, cols):
    return [[getattr(r, c) for c in cols] for r in df.orderBy("ts").collect()]


@pytest.mark.parametrize("agg", ["mean", "median"])
def test_rolling_fill_matches_pandas(spark, agg):
    pdf = _pandas_numeric()
    for c in ("a", "b"):
        roll = getattr(pdf[c].rolling(2, min_periods=1), agg)()
        pdf[c] = pdf[c].fillna(roll)  # process_csv_data.py:128-134
    fill = clean.rolling_mean_fill if agg == "mean" else clean.rolling_median_fill
    got = _spark_sorted(fill(_dirty_numeric(spark), ["a", "b"], ["ts"]), ["a", "b"])
    want = pdf[["a", "b"]].values.tolist()
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            assert (gv is None and np.isnan(wv)) or gv == pytest.approx(wv)


@pytest.mark.parametrize("method", ["linear", "nearest"])
def test_interpolate_matches_pandas(spark, method):
    if method == "nearest":
        pytest.importorskip("scipy")  # pandas delegates 'nearest' to scipy
    pdf = _pandas_numeric()
    for c in ("a", "b"):
        pdf[c] = pdf[c].interpolate(
            method=method, limit_direction="both"
        )  # process_csv_data.py:124-126
    got = _spark_sorted(
        clean.interpolate_fill(_dirty_numeric(spark), ["a", "b"], ["ts"], method=method),
        ["a", "b"],
    )
    want = pdf[["a", "b"]].values.tolist()
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            assert gv == pytest.approx(wv), (method, got, want)


def test_interpolate_nearest_hand_computed(spark):
    # dirty.csv columns after blank->null+cast:
    # a = [1.0, None, 3.0, 4.0, None, 7.0]; b = [None, 2.0, None, 4.5, 6.0, None]
    got = _spark_sorted(
        clean.interpolate_fill(
            _dirty_numeric(spark), ["a", "b"], ["ts"], method="nearest"
        ),
        ["a", "b"],
    )
    # ties (equidistant neighbors) take the earlier value
    assert [g[0] for g in got] == [1.0, 1.0, 3.0, 4.0, 4.0, 7.0]
    assert [g[1] for g in got] == [2.0, 2.0, 2.0, 4.5, 6.0, 6.0]


def test_all_null_column_dropped(spark):
    out = clean_repair_nans(spark, "")
    assert "allblank" not in out.columns
    # linear repair leaves no holes on this fixture
    assert out.filter("a IS NULL OR b IS NULL").count() == 0


def test_null_report_flags(spark):
    rows = {
        r.column: (r.any_null, r.any_blank)
        for r in clean.null_report(
            _dirty(spark), ["ts", "a", "b", "allblank"]
        ).collect()
    }
    assert rows["ts"] == (False, False)
    assert rows["a"] == (True, False)  # empty cells parse as null, not blank
    assert rows["b"] == (True, True)  # has both a null and a whitespace cell
    assert rows["allblank"] == (True, False)


# --- W3 cubic: natural spline via applyInPandas ------------------------------
def _dense_natural_spline(xk, yk, xs):
    """Independent ground truth: solve the full 4(n-1)-coefficient
    linear system per segment (continuity, C1, C2, natural ends) with
    numpy — a different formulation from the operator's tridiagonal
    sweep, so shared bugs can't cancel."""
    n = len(xk)
    if n == 1:
        return np.full(len(xs), yk[0])
    nseg = n - 1
    A = np.zeros((4 * nseg, 4 * nseg))
    r = np.zeros(4 * nseg)
    row = 0
    for i in range(nseg):  # endpoint interpolation per segment
        for x, y in ((xk[i], yk[i]), (xk[i + 1], yk[i + 1])):
            A[row, 4 * i : 4 * i + 4] = [x**3, x**2, x, 1.0]
            r[row] = y
            row += 1
    for i in range(nseg - 1):  # C1 + C2 at interior knots
        x = xk[i + 1]
        A[row, 4 * i : 4 * i + 4] = [3 * x**2, 2 * x, 1.0, 0.0]
        A[row, 4 * (i + 1) : 4 * (i + 1) + 4] = [-3 * x**2, -2 * x, -1.0, 0.0]
        row += 1
        A[row, 4 * i : 4 * i + 4] = [6 * x, 2.0, 0.0, 0.0]
        A[row, 4 * (i + 1) : 4 * (i + 1) + 4] = [-6 * x, -2.0, 0.0, 0.0]
        row += 1
    A[row, 0:4] = [6 * xk[0], 2.0, 0.0, 0.0]  # natural ends: S'' = 0
    row += 1
    A[row, -4:] = [6 * xk[-1], 2.0, 0.0, 0.0]
    coef = np.linalg.solve(A, r)
    out = []
    for x in xs:
        if x <= xk[0]:
            out.append(yk[0])
            continue
        if x >= xk[-1]:
            out.append(yk[-1])
            continue
        i = int(np.searchsorted(xk, x)) - 1
        c3, c2, c1, c0 = coef[4 * i : 4 * i + 4]
        out.append(c3 * x**3 + c2 * x**2 + c1 * x + c0)
    return np.array(out)


def test_cubic_matches_dense_solve(spark):
    # deterministic pseudo-random series with interior + edge holes
    n = 40
    ys = [float(((7 * i) % 11) - 5 + 0.25 * i) for i in range(n)]
    holes = {0, 1, 5, 11, 12, 13, 22, 30, 38, 39}
    rows = [
        (f"t{i:03d}", None if i in holes else ys[i]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "ord string, v double")
    got = {
        r.ord: r.v
        for r in clean.interpolate_cubic(df, ["v"], ["ord"]).collect()
    }
    xk = np.array([float(i) for i in range(n) if i not in holes])
    yk = np.array([ys[i] for i in range(n) if i not in holes])
    expect = _dense_natural_spline(xk, yk, np.arange(n, dtype=float))
    for i in range(n):
        assert got[f"t{i:03d}"] == pytest.approx(expect[i], rel=1e-9, abs=1e-9), i


def test_cubic_grouped_and_degenerate(spark):
    rows = [
        # group g1: 3 knots -> one interior spline value
        ("g1", "t0", 1.0),
        ("g1", "t1", None),
        ("g1", "t2", 3.0),
        ("g1", "t3", 9.0),
        # group g2: single knot -> constant fill
        ("g2", "t0", None),
        ("g2", "t1", 5.0),
        ("g2", "t2", None),
        # group g3: all null -> untouched
        ("g3", "t0", None),
    ]
    df = spark.createDataFrame(rows, "g string, ord string, v double")
    got = {
        (r.g, r.ord): r.v
        for r in clean.interpolate_cubic(
            df, ["v"], ["ord"], partition_cols=["g"]
        ).collect()
    }
    # 3-knot natural spline through (0,1),(2,3),(3,9): tridiag solve gives
    # M1 = 6*((9-3)/1 - (3-1)/2)/(2*(2+1)) = 5; S(1) = interior value
    x0, x1, y0, y1, m0, m1, h = 0.0, 2.0, 1.0, 3.0, 0.0, 5.0, 2.0
    x = 1.0
    expect = (
        (m0 * (x1 - x) ** 3 + m1 * (x - x0) ** 3) / (6 * h)
        + (y0 / h - m0 * h / 6) * (x1 - x)
        + (y1 / h - m1 * h / 6) * (x - x0)
    )
    assert got[("g1", "t1")] == pytest.approx(expect)
    assert got[("g1", "t0")] == 1.0 and got[("g1", "t2")] == 3.0
    assert got[("g2", "t0")] == 5.0 and got[("g2", "t2")] == 5.0
    assert got[("g3", "t0")] is None


# ---------------------------------------------------------------------------
# Partitioned-window scale path (the 100 TB shape): with partition_cols
# the window state must shard across a hash-partitioned Exchange, never
# funnel through one global-window task. The registered single-file
# entries keep the global window deliberately (ETL tool semantics).
# ---------------------------------------------------------------------------
def _two_device(spark):
    rows = [
        ("d1", 1, 1.0),
        ("d1", 2, None),
        ("d1", 3, 4.0),
        ("d2", 1, 10.0),
        ("d2", 2, None),
        ("d2", 3, None),
        ("d2", 4, 40.0),
    ]
    return spark.createDataFrame(rows, "device string, ts int, a double")


def test_partitioned_fill_two_device_values(spark):
    """Per-device interpolation: a global window would bleed d1's 4.0
    into d2's gap (linear between 4.0 and 10.0), so the per-device
    expectations below fail unless partitioning is honored."""
    out = clean.interpolate_fill(
        _two_device(spark), ["a"], ["ts"], partition_cols=["device"]
    )
    got = {(r.device, r.ts): r.a for r in out.collect()}
    assert got[("d1", 2)] == pytest.approx(2.5)
    assert got[("d2", 2)] == pytest.approx(20.0)
    assert got[("d2", 3)] == pytest.approx(30.0)

    out = clean.rolling_mean_fill(
        _two_device(spark), ["a"], ["ts"], partition_cols=["device"]
    )
    got = {(r.device, r.ts): r.a for r in out.collect()}
    # trailing {prev, null} windows average to prev; two nulls in a row
    # stay null (the fill reads original values, like pandas rolling)
    assert got[("d1", 2)] == pytest.approx(1.0)
    assert got[("d2", 2)] == pytest.approx(10.0)
    assert got[("d2", 3)] is None

    out = clean.rolling_median_fill(
        _two_device(spark), ["a"], ["ts"], partition_cols=["device"]
    )
    got = {(r.device, r.ts): r.a for r in out.collect()}
    assert got[("d1", 2)] == pytest.approx(1.0)
    assert got[("d2", 3)] is None


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "build, one_exchange",
    [
        (lambda df: clean.interpolate_fill(df, ["a"], ["ts"], ["device"]), True),
        (
            lambda df: clean.interpolate_fill(
                df, ["a"], ["ts"], ["device"], method="nearest"
            ),
            True,
        ),
        (lambda df: clean.rolling_mean_fill(df, ["a"], ["ts"], ["device"]), False),
        (lambda df: clean.rolling_median_fill(df, ["a"], ["ts"], ["device"]), False),
        (lambda df: clean.interpolate_cubic(df, ["a"], ["ts"], ["device"]), False),
    ],
    ids=["linear", "nearest", "rolling_mean", "rolling_median", "cubic"],
)
def test_partitioned_fill_plan_shards_by_key(spark, build, one_exchange):
    plan = _executed_plan(build(_two_device(spark)))
    assert "hashpartitioning(device" in plan, plan
    # the global-window funnel (every row through ONE task) must be gone
    assert "SinglePartition" not in plan, plan
    if one_exchange:
        # the interpolation's row-number, ascending and descending
        # windows share one partitioning: re-sorts, never a re-shuffle
        exchanges = [ln for ln in plan.splitlines() if "Exchange " in ln]
        assert len(exchanges) == 1, plan
        assert "Exchange hashpartitioning(device" in exchanges[0], plan


@pytest.mark.parametrize("method", ["linear", "nearest"])
def test_interpolate_plan_has_no_unbounded_following_frame(spark, method):
    """Both neighbour lookups are running frames (unbounded preceding to
    the current row); a frame to unbounded following is re-evaluated per
    row and makes the fill quadratic in the partition's rows."""
    for df, parts in ((_two_device(spark), ["device"]), (_dirty_numeric(spark), None)):
        plan = _executed_plan(
            clean.interpolate_fill(df, ["a"], ["ts"], parts, method=method)
        )
        assert "unboundedpreceding" in plan.lower(), plan
        assert "unboundedfollowing" not in plan.lower(), plan


@pytest.mark.parametrize("method", ["linear", "nearest"])
def test_interpolate_plan_computes_each_neighbour_once(spark, method):
    """Each filled column's four neighbours (previous/next value and row
    number) are one window aggregate each, and the row-number, descending
    and ascending windows cost one sort each over one Exchange, whatever
    the column count. Column expressions that reference a neighbour
    several times plan one aggregate per reference and re-sort per
    column."""
    rows = [
        (i, None if i % 3 == 1 else float(i), None if i % 4 == 0 else -1.0 * i,
         float(i) if i in (3, 7) else None)
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "ts int, a double, b double, c double")
    cols = ["a", "b", "c"]
    plan = _executed_plan(clean.interpolate_fill(df, cols, ["ts"], method=method))
    assert plan.count("last(") == 4 * len(cols), plan
    assert plan.count("Sort [") <= 3, plan
    assert len([ln for ln in plan.splitlines() if "Exchange " in ln]) == 1, plan


def test_interpolate_keeps_user_column_named_like_helper(spark):
    """A CSV header may be anything, including the fill's row-number
    helper name: the input's ``_rn`` column comes back unchanged."""
    rows = [(1, 1.0, "x"), (2, None, "y"), (3, 3.0, None), (4, None, "z")]
    df = spark.createDataFrame(rows, "ts int, a double, _rn string")
    for method in ("linear", "nearest"):
        out = clean.interpolate_fill(df, ["a"], ["ts"], method=method)
        assert out.columns == ["ts", "a", "_rn"]
        got = out.orderBy("ts").collect()
        assert [r._rn for r in got] == ["x", "y", None, "z"], method
        assert [r.a for r in got] == [1.0, 2.0 if method == "linear" else 1.0, 3.0, 3.0]


def _holed_series(rng, n: int) -> np.ndarray:
    """Uniform values with isolated holes, runs of 3-8 holes, and a
    leading and a trailing gap."""
    y = rng.uniform(-50.0, 50.0, n)
    holes = rng.random(n) < 0.05
    for start in rng.integers(10, n - 20, n // 500):
        holes[start : start + rng.integers(3, 9)] = True
    holes[: rng.integers(1, 5)] = True
    holes[n - rng.integers(1, 5) :] = True
    y[holes] = np.nan
    return y


def _nearest_reference(y: np.ndarray) -> np.ndarray:
    """Nearest known position per row; equidistant ties take the earlier
    neighbour, rows before the first / after the last known value clamp."""
    pos = np.arange(len(y))
    known = np.flatnonzero(~np.isnan(y))
    nxt = np.searchsorted(known, pos, side="left")  # first known >= pos
    prv = nxt - (known[np.minimum(nxt, len(known) - 1)] != pos)  # last known <= pos
    p = known[np.clip(prv, 0, len(known) - 1)]
    q = known[np.minimum(nxt, len(known) - 1)]
    take_prev = (prv >= 0) & ((nxt >= len(known)) | (pos - p <= q - pos))
    return np.where(take_prev, y[p], y[q])


def test_interpolate_scale_parity(spark):
    """20 000 rows in one window partition: linear equals pandas, nearest
    equals a numpy nearest-known-position reference (pandas' nearest
    needs SciPy). At this size a frame that is re-evaluated per row
    takes minutes, so a return of the quadratic fill shows in the
    test durations."""
    n = 20_000
    rng = np.random.default_rng(20_000)
    pdf = pd.DataFrame(
        {"ts": np.arange(n), "a": _holed_series(rng, n), "b": _holed_series(rng, n)}
    )
    # rows arrive out of order: the fill must order by ts, not by input
    df = spark.createDataFrame(pdf.sample(frac=1.0, random_state=7)).repartition(4)
    for method in ("linear", "nearest"):
        got = (
            clean.interpolate_fill(df, ["a", "b"], ["ts"], method=method)
            .toPandas()
            .sort_values("ts")
        )
        assert got["ts"].tolist() == list(range(n))
        for c in ("a", "b"):
            if method == "linear":
                want = pdf[c].interpolate(method="linear", limit_direction="both")
            else:
                want = _nearest_reference(pdf[c].to_numpy())
            np.testing.assert_allclose(
                got[c].to_numpy(), np.asarray(want), rtol=0, atol=1e-9
            )


def test_fills_handle_dotted_column_names(spark):
    """Cleaning operators take column names straight from CSV headers,
    which can be dotted since the pandas duplicate-header mangle
    (round 12): every fill path must reference them as exact names,
    not struct paths."""
    from fledge_south_csvplayback_spark.operators import clean as C
    from fledge_south_csvplayback_spark.operators import timestamps as TS

    df = spark.createDataFrame(
        [("2020-01-01 00:00:00", 1.0), ("2020-01-01 00:00:01", None),
         ("2020-01-01 00:00:02", 3.0)],
        ["t.s", "a.1"],
    )
    got = C.interpolate_fill(df, ["a.1"], ["t.s"]).orderBy("`t.s`").collect()
    assert [r["a.1"] for r in got] == [1.0, 2.0, 3.0]
    got = C.rolling_mean_fill(df, ["a.1"], ["t.s"]).orderBy("`t.s`").collect()
    assert [r["a.1"] for r in got] == [1.0, 1.0, 3.0]
    got = C.rolling_median_fill(df, ["a.1"], ["t.s"]).orderBy("`t.s`").collect()
    assert [r["a.1"] for r in got] == [1.0, 1.0, 3.0]
    rep = {r.column: (r.any_null, r.any_blank) for r in C.null_report(df, ["a.1"]).collect()}
    assert rep == {"a.1": (True, False)}
    assert C.all_null_columns(df, ["a.1"]) == []
    df2 = C.whitespace_to_null(
        spark.createDataFrame([(" ",), ("x",)], ["b.2"]), ["b.2"]
    )
    assert sorted([r["b.2"] for r in df2.collect()], key=repr) == sorted(
        [None, "x"], key=repr
    )
    ts = TS.copy_csv_value(
        df.withColumnRenamed("t.s", "u.ts"), "u.ts", "%Y-%m-%d %H:%M:%S"
    )
    assert ts.filter("timestamp IS NULL").count() == 0
    assert C.repair_nans(df, ["a.1"], ["t.s"], method="linear").count() == 3
