"""Distributed ungrouped windows (operators/distwindow.py): the
block-partitioned plans must (a) produce exactly the single-partition
answer — verified against real pandas — and (b) actually run on more
than one partition (the scale property the plan exists for)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import go_pandas_spark as gp
from go_pandas_spark import _internal as I


N = 5_000


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.RandomState(7)
    return pd.DataFrame({
        "k": np.arange(N, dtype=np.int64),
        "x": np.round(rng.uniform(-100, 100, N), 4),
        "y": np.round(rng.uniform(0, 50, N), 4),
    })


@pytest.fixture(scope="module")
def frame(spark, pdf):
    # 16 input partitions so the order key spans many ranges
    sdf = spark.createDataFrame(pdf).repartition(16)
    return gp.Frame(sdf).sort_values("k")


def _series(frame, col):
    # to_pandas() returns rows in frame order (ORDER_COL) — sorting by
    # "k" would scramble: rolling/shift transform the k column too,
    # exactly as pandas frame-mode does.
    return frame.to_pandas().reset_index(drop=True)[col]


def _window_is_blocked(sdf) -> bool:
    """True when the moving aggregate is keyed by the block id —
    i.e. work is spread across partitions, not one global window.
    (At toy sizes AQE may still coalesce the physical exchange; the
    plan shape is the scale property.)"""
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    return ("windowspecdefinition(__blk__" in plan
            and "hashpartitioning(__blk__" in plan)


def test_dist_rolling_runs_blocked(frame):
    out = frame.rolling(3).sum()
    assert _window_is_blocked(out._sdf), "ungrouped rolling still on a global window"


def test_dist_rolling_sum_mean_matches_pandas(frame, pdf):
    out = frame.rolling(3).sum()
    got = _series(out, "x")
    exp = pdf["x"].rolling(3).sum()
    assert np.allclose(got, exp, equal_nan=True)
    got_m = _series(frame.rolling(7, min_periods=2).mean(), "x")
    exp_m = pdf["x"].rolling(7, min_periods=2).mean()
    assert np.allclose(got_m, exp_m, equal_nan=True)


def test_dist_rolling_center_matches_pandas(frame, pdf):
    got = _series(frame.rolling(5, center=True).max(), "x")
    exp = pdf["x"].rolling(5, center=True).max()
    assert np.allclose(got, exp, equal_nan=True)


def test_dist_rolling_median_matches_pandas(frame, pdf):
    got = _series(frame.rolling(9).median(), "x")
    exp = pdf["x"].rolling(9).median()
    assert np.allclose(got, exp, equal_nan=True)


def test_dist_weighted_matches_pandas(frame, pdf):
    got = _series(frame.rolling(4, win_type="triang").mean(), "x")
    try:
        exp = pdf["x"].rolling(4, win_type="triang").mean()
    except ImportError:  # scipy absent: closed-form reference
        from go_pandas_spark.window import window_weights

        w = np.array(window_weights("triang", 4))
        exp = pdf["x"].rolling(4).apply(lambda a: np.dot(a, w) / w.sum(), raw=True)
    assert np.allclose(got, exp, equal_nan=True)


def test_dist_expanding_matches_pandas(frame, pdf):
    for kind, pd_fn in [("sum", "sum"), ("mean", "mean"), ("min", "min"),
                        ("max", "max"), ("var", "var"), ("std", "std"),
                        ("count", "count")]:
        got = _series(getattr(frame.expanding(), kind)(), "x")
        exp = getattr(pdf["x"].expanding(), pd_fn)()
        assert np.allclose(got, exp, equal_nan=True, atol=1e-8), kind
    plan = frame.expanding().sum()._sdf._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__blk__" in plan


def test_dist_expanding_min_periods(frame, pdf):
    got = _series(frame.expanding(min_periods=10).sum(), "x")
    exp = pdf["x"].expanding(min_periods=10).sum()
    assert np.allclose(got, exp, equal_nan=True)


def test_dist_shift_diff_matches_pandas(frame, pdf):
    got = _series(frame[["k", "x"]].shift(3), "x")
    exp = pdf["x"].shift(3)
    assert np.allclose(got, exp, equal_nan=True)
    got_n = _series(frame[["k", "x"]].shift(-2), "x")
    exp_n = pdf["x"].shift(-2)
    assert np.allclose(got_n, exp_n, equal_nan=True)
    got_d = _series(frame[["k", "x"]].diff(4), "x")
    exp_d = pdf["x"].diff(4)
    assert np.allclose(got_d, exp_d, equal_nan=True)


def test_dist_time_rolling_matches_pandas(spark):
    rng = np.random.RandomState(3)
    ts = pd.Timestamp("2001-01-01") + pd.to_timedelta(
        np.cumsum(rng.randint(1, 900, 3000)), unit="s")
    pdf = pd.DataFrame({"t": ts, "x": np.round(rng.uniform(0, 10, 3000), 4)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("t")
    got = (f.rolling("10min", on="t").sum().to_pandas()
           .reset_index(drop=True)["x"])
    exp = pdf.rolling("10min", on="t")["x"].sum().reset_index(drop=True)
    assert np.allclose(got, exp, equal_nan=True)
    assert _window_is_blocked(f.rolling("10min", on="t").sum()._sdf)


def test_dist_rolling_plan_has_block_exchange(frame):
    """The physical plan must show a block-keyed hash exchange +
    block-keyed window, not a single global-window partition."""
    plan = frame.rolling(3).sum()._sdf._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__blk__" in plan


def test_dist_rolling_tiny_frame_many_blocks(spark):
    """Blocks smaller than the window: every row must still see its
    full global window (the borrow is a broadcast join against the
    block-boundary table, not a one-block-back copy)."""
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    pdf = pd.DataFrame({"x": vals})
    f = gp.Frame(spark.createDataFrame(pdf))
    got = _series(f.rolling(5).sum(), "x")
    exp = pdf["x"].rolling(5).sum()
    assert np.allclose(got, exp, equal_nan=True)
    got_c = _series(f.rolling(5, center=True, min_periods=1).mean(), "x")
    exp_c = pdf["x"].rolling(5, center=True, min_periods=1).mean()
    assert np.allclose(got_c, exp_c, equal_nan=True)
    got_s = _series(f.shift(3), "x")
    assert np.allclose(got_s, pdf["x"].shift(3), equal_nan=True)


def test_dist_rank_matches_pandas(frame, pdf):
    ties = pdf.copy()
    ties["x"] = np.round(ties["x"], 0)  # create tie groups
    tf = gp.Frame(frame._sdf.sparkSession.createDataFrame(ties).repartition(16)).sort_values("k")
    for method in ("average", "min", "max", "dense", "first"):
        got = _series(tf[["x"]].rank(method=method), "x")
        exp = ties["x"].rank(method=method)
        assert np.allclose(got, exp, equal_nan=True), method
    got_p = _series(tf[["x"]].rank(pct=True), "x")
    assert np.allclose(got_p, ties["x"].rank(pct=True), equal_nan=True)
    got_d = _series(tf[["x"]].rank(ascending=False, method="dense"), "x")
    assert np.allclose(got_d, ties["x"].rank(ascending=False, method="dense"), equal_nan=True)


def test_dist_rank_na_options(spark):
    vals = [3.0, np.nan, 1.0, 2.0, np.nan, 1.0]
    pdf = pd.DataFrame({"x": vals})
    f = gp.Frame.from_pandas(spark, pdf)
    for na in ("keep", "top", "bottom"):
        got = _series(f[["x"]].rank(na_option=na), "x")
        exp = pdf["x"].rank(na_option=na)
        assert np.allclose(got, exp, equal_nan=True), na


def test_frame_cum_matches_pandas(frame, pdf):
    for kind in ("cumsum", "cummax", "cummin"):
        got = _series(getattr(frame[["x", "y"]], kind)(), "x")
        exp = getattr(pdf["x"], kind)()
        assert np.allclose(got, exp, equal_nan=True), kind


def test_frame_cumprod_matches_pandas(spark):
    pdf = pd.DataFrame({"x": [2.0, -3.0, 1.5, 0.0, -2.0, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = _series(f.cumprod(), "x")
    assert np.allclose(got, pdf["x"].cumprod())


def test_rolling_agg_multi_one_pass(frame, pdf):
    out = frame[["k", "x"]].rolling(4, min_periods=2).agg(["sum", "mean", "max"])
    got = out.to_pandas()
    # MultiIndex columns (col, fn)
    assert ("x", "mean") in set(got.columns)
    exp = pdf["x"].rolling(4, min_periods=2).mean()
    assert np.allclose(got[("x", "mean")].to_numpy(), exp, equal_nan=True)
    exp_s = pdf["x"].rolling(4, min_periods=2).sum()
    assert np.allclose(got[("x", "sum")].to_numpy(), exp_s, equal_nan=True)
    assert _window_is_blocked(out._sdf)


# ------------------------------------------------------------------ #
# Series-mode order ops: pure-Column blocked expressions               #
# ------------------------------------------------------------------ #

def _no_unpartitioned_window(sdf) -> bool:
    """No window spec in the physical plan may order by the global
    order column without a partition key (the single-task shape)."""
    import re

    plan = sdf._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    return all(not s.strip().startswith("__order__") for s in specs)


def test_series_cum_ops_blocked_and_correct(frame, pdf):
    withnan = pdf.copy()
    withnan.loc[withnan.index % 9 == 4, "x"] = np.nan
    f = gp.Frame(frame._sdf.sparkSession.createDataFrame(withnan)
                 .repartition(16)).sort_values("k")
    s = f["x"]
    for name, gs, es in [
        ("cumsum", s.cumsum(), withnan["x"].cumsum()),
        ("cummax", s.cummax(), withnan["x"].cummax()),
        ("cummin", s.cummin(), withnan["x"].cummin()),
    ]:
        out = f.assign(o=gs)
        assert _no_unpartitioned_window(out._sdf), name
        got = out.to_pandas().reset_index(drop=True)["o"]
        assert np.allclose(got, es.reset_index(drop=True), equal_nan=True), name


def test_series_cumprod_blocked_and_correct(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"k": np.arange(3000),
                        "x": np.round(rng.uniform(-1.1, 1.1, 3000), 3)})
    pdf.loc[pdf.index % 13 == 6, "x"] = np.nan
    pdf.loc[pdf.index % 501 == 0, "x"] = 0.0
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    out = f.assign(o=f["x"].cumprod())
    assert _no_unpartitioned_window(out._sdf)
    got = out.to_pandas().reset_index(drop=True)["o"]
    exp = pdf["x"].cumprod().reset_index(drop=True)
    assert np.allclose(got, exp, equal_nan=True, rtol=1e-9, atol=1e-12)


def test_series_shift_diff_blocked_and_correct(frame, pdf):
    s = frame["x"]
    for name, gs, es in [
        ("shift1", s.shift(1), pdf["x"].shift(1)),
        ("shift-2", s.shift(-2), pdf["x"].shift(-2)),
        ("shift_fill", s.shift(2, fill_value=-1.0), pdf["x"].shift(2, fill_value=-1.0)),
        ("diff3", s.diff(3), pdf["x"].diff(3)),
        ("pct", s.pct_change(), pdf["x"].pct_change(fill_method=None)),
    ]:
        out = frame.assign(o=gs)
        assert _no_unpartitioned_window(out._sdf), name
        got = out.to_pandas().reset_index(drop=True)["o"]
        assert np.allclose(got, es.reset_index(drop=True), equal_nan=True), name


def test_series_shift_fill_preserves_genuine_nulls(spark):
    """fill_value fills ONLY beyond-edge positions; nulls already in
    the data shift through unfilled (pandas contract)."""
    pdf = pd.DataFrame({"x": [1.0, np.nan, 3.0, 4.0, np.nan, 6.0]})
    f = gp.Frame(spark.createDataFrame(pdf))
    got = f.assign(o=f["x"].shift(2, fill_value=99.0)).to_pandas()["o"]
    exp = pdf["x"].shift(2, fill_value=99.0)
    assert np.allclose(got, exp, equal_nan=True)


def test_series_rank_blocked_and_correct(frame, pdf):
    ties = pdf.copy()
    ties["x"] = np.round(ties["x"], 0)
    ties.loc[ties.index % 17 == 3, "x"] = np.nan
    f = gp.Frame(frame._sdf.sparkSession.createDataFrame(ties)
                 .repartition(16)).sort_values("k")
    s = f["x"]
    for method in ("average", "min", "max", "dense", "first"):
        for na_option in ("keep", "top", "bottom"):
            out = f.assign(o=s.rank(method=method, na_option=na_option))
            assert _no_unpartitioned_window(out._sdf), (method, na_option)
            got = out.to_pandas().reset_index(drop=True)["o"]
            exp = ties["x"].rank(method=method, na_option=na_option).reset_index(drop=True)
            assert np.allclose(got, exp, equal_nan=True), (method, na_option)
    out = f.assign(o=s.rank(pct=True, method="dense"))
    got = out.to_pandas().reset_index(drop=True)["o"]
    exp = ties["x"].rank(pct=True, method="dense").reset_index(drop=True)
    assert np.allclose(got, exp, equal_nan=True)


@pytest.mark.parametrize("adjust,ignore_na,alpha", [
    (True, False, 0.3), (True, True, 0.5), (False, False, 0.3),
    (False, True, 0.7), (True, False, 1.0), (False, False, 0.97),
])
def test_ungrouped_ewm_blocked_matches_pandas(spark, adjust, ignore_na, alpha):
    rng = np.random.RandomState(19)
    pdf = pd.DataFrame({"k": np.arange(4000),
                        "v": np.round(rng.uniform(-10, 10, 4000), 3)})
    pdf.loc[pdf.index % 6 == 2, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    got = (f.ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na)
           .mean(cols=["v"]).to_pandas().reset_index(drop=True)["v"])
    exp = pdf["v"].ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na).mean()
    assert np.allclose(got, exp, equal_nan=True, rtol=1e-9, atol=1e-12)


def test_ungrouped_ewm_plan_is_blocked(spark):
    """The ungrouped EWM physical plan must stay parallel — never
    coalesce(1). r13: on the aligned monotonic layout the two passes
    are shuffle-free MapInPandas over the source partitions; the
    fallback layouts keep the hash partition on the block id."""
    pdf = pd.DataFrame({"k": np.arange(500), "v": np.arange(500, dtype=float)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    out = f.ewm(alpha=0.4).mean(cols=["v"])
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    if "MapInPandas" in plan:  # aligned zero-shuffle layout
        assert "Exchange" not in plan.split("MapInPandas")[0]
    else:
        assert "hashpartitioning(__blk__" in plan
    assert "Coalesce 1" not in plan


def test_rolling_joined_at_high_partition_count(spark):
    """At a high source-partition count the monotonic layout's block
    table (start + count per block) exceeds the one literal rule and
    must ride a broadcast join (plan size independent of P), still
    producing exactly the single-window answer."""
    from pyspark.sql import functions as F

    from go_pandas_spark.operators.distwindow import (_ATTACH_LIT_SLOTS,
                                                      rolling_blocked)

    sdf = (spark.range(0, 12000).repartition(300)
           .withColumn(I.ORDER_COL, F.monotonically_increasing_id())
           .withColumn("x", (F.col("id") * 7 % 13).cast("double")))
    assert 300 * 2 > _ATTACH_LIT_SLOTS

    def build(w):
        return [("r", F.sum("x").over(w))]

    out = rolling_blocked(sdf, F.col(I.ORDER_COL), -2, 0, build,
                          monotonic_id=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, \
        "large-P rolling did not broadcast its block table"
    got = out.orderBy(I.ORDER_COL).select("x", "r").toPandas()
    exp = got["x"].rolling(3, min_periods=1).sum()
    assert np.allclose(got["r"].to_numpy(), exp.to_numpy())


def test_bounds_search_matches_bisect(spark):
    """``_attach_block``'s one bounds search (the binary search over
    the attached bounds array) equals Python ``bisect`` at 1-64 bounds
    — the range a literal comparison chain used to serve — and past the
    literal rule: ties, NaN, null and ±inf keys, ascending and
    descending (the rank layout), int and double bounds."""
    import bisect
    import math

    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(7)
    keys = [float(v) for v in rng.randint(-50, 50, 400)]
    keys += [float("nan"), float("inf"), float("-inf"), None, -0.0]
    sdf = spark.createDataFrame([(i, k) for i, k in enumerate(keys)],
                                "i long, k double").repartition(16)
    cases = []
    for n in (1, 2, 3, 7, 8, 31, 64, 200):
        pts = sorted(set(int(v) for v in rng.randint(-60, 60, n)))
        bounds = pts if n % 2 else [float(b) for b in pts]
        for desc in (False, True):
            cases.append((f"b{n}_{int(desc)}", bounds, desc))
    out = sdf
    for name, bounds, desc in cases:
        out = (dw._attach_block(out, F.col("k"), bounds, null_block=99,
                                descending=desc)
               .withColumnRenamed(dw.BLK, name))
    for r in out.collect():
        k = r["k"]
        for name, bounds, desc in cases:
            if k is None:
                exp = 99
            elif math.isnan(k):  # NaN orders above every bound
                exp = 0 if desc else len(bounds)
            elif desc:
                exp = len(bounds) - bisect.bisect_right(bounds, k)
            else:
                exp = bisect.bisect_left(bounds, k)
            assert r[name] == exp, (name, k, r[name], exp)


def test_rolling_engine_id_reach_wider_than_blocks(spark):
    """Rolling on the engine id over 100 skewed source partitions with
    a window reach wider than some blocks: the one sid layout borrows
    through the interval table (a row reaches several blocks) and
    matches pandas in both directions."""
    from go_pandas_spark.operators.distwindow import rolling_blocked

    rng = np.random.RandomState(29)
    grp = (rng.zipf(1.6, 3000) % 400).astype("int64")
    sdf = (spark.createDataFrame(pd.DataFrame({
        "g": grp, "x": rng.normal(0, 3, 3000)}))
        .repartition(100, "g")
        .withColumn(I.ORDER_COL, F.monotonically_increasing_id()))

    def build(w):
        return [("r", F.sum("x").over(w)), ("c", F.count("x").over(w))]

    out = rolling_blocked(sdf, F.col(I.ORDER_COL), -40, 0, build,
                          monotonic_id=True)
    got = out.orderBy(I.ORDER_COL).toPandas()
    assert len(got) == 3000
    exp = got["x"].rolling(41, min_periods=1)
    assert np.allclose(got["r"], exp.sum(), rtol=1e-9)
    assert np.array_equal(got["c"], exp.count())

    out = rolling_blocked(sdf, F.col(I.ORDER_COL), -3, 25, build,
                          monotonic_id=True)
    got = out.orderBy(I.ORDER_COL).toPandas()
    xs = got["x"].to_numpy()
    expv = [xs[max(0, i - 3):i + 26].sum() for i in range(len(xs))]
    assert np.allclose(got["r"], expv, rtol=1e-9)


def test_rolling_joined_lead_window_high_partition_count(spark):
    from pyspark.sql import functions as F

    from go_pandas_spark.operators.distwindow import rolling_blocked

    sdf = (spark.range(0, 3000).repartition(90)
           .withColumn(I.ORDER_COL, F.monotonically_increasing_id())
           .withColumn("x", (F.col("id") * 11 % 17).cast("double")))

    def build(w):
        return [("r", F.max("x").over(w))]

    out = rolling_blocked(sdf, F.col(I.ORDER_COL), -1, 2, build,
                          monotonic_id=True)
    got = out.orderBy(I.ORDER_COL).select("x", "r").toPandas()
    # window [-1, +2]: compare via explicit loop
    xs = got["x"].to_numpy()
    expv = [max(xs[max(0, i - 1):i + 3]) for i in range(len(xs))]
    assert np.allclose(got["r"].to_numpy(), expv)


@pytest.mark.parametrize("ignore_na,alpha", [
    (False, 0.3), (True, 0.5), (False, 0.05), (True, 0.9), (False, 0.97),
])
def test_ungrouped_ewm_var_std_blocked_matches_pandas(spark, ignore_na, alpha):
    rng = np.random.RandomState(23)
    pdf = pd.DataFrame({"k": np.arange(3000),
                        "v": np.round(rng.uniform(-10, 10, 3000), 3)})
    pdf.loc[pdf.index % 7 == 3, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    got_v = (f.ewm(alpha=alpha, adjust=True, ignore_na=ignore_na)
             .var(cols=["v"]).to_pandas().reset_index(drop=True)["v"])
    exp_v = pdf["v"].ewm(alpha=alpha, adjust=True, ignore_na=ignore_na).var()
    assert np.allclose(got_v, exp_v, equal_nan=True, rtol=1e-7, atol=1e-9)
    got_s = (f.ewm(alpha=alpha, adjust=True, ignore_na=ignore_na)
             .std(cols=["v"]).to_pandas().reset_index(drop=True)["v"])
    exp_s = pdf["v"].ewm(alpha=alpha, adjust=True, ignore_na=ignore_na).std()
    assert np.allclose(got_s, exp_s, equal_nan=True, rtol=1e-7, atol=1e-9)


def test_ungrouped_ewm_var_plan_is_blocked(spark):
    pdf = pd.DataFrame({"k": np.arange(400), "v": np.arange(400, dtype=float)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    out = f.ewm(alpha=0.4).var(cols=["v"])
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    if "MapInPandas" in plan:  # aligned zero-shuffle layout (r13)
        assert "Exchange" not in plan.split("MapInPandas")[0]
    else:
        assert "hashpartitioning(__blk__" in plan
    assert "Coalesce 1" not in plan


def test_ungrouped_ewm_var_offset_data_is_stable(spark):
    """Catastrophic-cancellation guard: data with mean >> std must
    still match pandas (the raw Σwx² formulation loses ~mean²/var
    digits; the blocked kernel centers per block)."""
    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({"k": np.arange(2000),
                        "v": 1e6 + rng.uniform(-1, 1, 2000)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    got = (f.ewm(alpha=0.2, adjust=True).var(cols=["v"])
           .to_pandas().reset_index(drop=True)["v"])
    exp = pdf["v"].ewm(alpha=0.2, adjust=True).var()
    assert np.allclose(got, exp, equal_nan=True, rtol=1e-6, atol=1e-9)


def test_series_rolling_battery_matches_pandas(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"k": np.arange(3000),
                        "x": np.round(rng.uniform(-50, 50, 3000), 3)})
    pdf.loc[pdf.index % 5 == 2, "x"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    s, p = f["x"], pdf["x"]
    r = s.rolling(5)
    out = f.assign(rs=r.sum(), rv=r.var(), rstd=r.std(), rc=r.count()) \
        .to_pandas().reset_index(drop=True)
    assert np.allclose(out["rs"], p.rolling(5).sum(), equal_nan=True)
    assert np.allclose(out["rv"], p.rolling(5).var(), equal_nan=True,
                       rtol=1e-6, atol=1e-9)
    assert np.allclose(out["rstd"], p.rolling(5).std(), equal_nan=True,
                       rtol=1e-6, atol=1e-9)
    assert np.allclose(out["rc"], p.rolling(5).count(), equal_nan=True)
    out2 = f.assign(rm=s.rolling(7, min_periods=2).mean(),
                    rmax=s.rolling(6, center=True).max(),
                    rmin=s.rolling(4).min()).to_pandas().reset_index(drop=True)
    assert np.allclose(out2["rm"], p.rolling(7, min_periods=2).mean(), equal_nan=True)
    assert np.allclose(out2["rmax"], p.rolling(6, center=True).max(), equal_nan=True)
    assert np.allclose(out2["rmin"], p.rolling(4).min(), equal_nan=True)


def test_series_rolling_plan_is_blocked(spark):
    """Expression-mode rolling: Catalyst extracts the literal block-id
    expression into a projected partition column (`_wN`), so check
    that every window spec IS partitioned — an unpartitioned spec
    would lead with the order column."""
    pdf = pd.DataFrame({"k": np.arange(800), "x": np.arange(800, dtype=float)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    out = f.assign(r=f["x"].rolling(5).sum())
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(" in plan
    assert "windowspecdefinition(__order__" not in plan, \
        "Series.rolling compiled to an unpartitioned global window"


def test_series_expanding_and_ewm_match_pandas(spark):
    rng = np.random.RandomState(13)
    pdf = pd.DataFrame({"k": np.arange(2500),
                        "x": np.round(rng.uniform(-20, 20, 2500), 3)})
    pdf.loc[pdf.index % 6 == 1, "x"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    s, p = f["x"], pdf["x"]
    out = f.assign(es=s.expanding().sum(), em=s.expanding(3).mean(),
                   ev=s.expanding(2).var(), emin=s.expanding().min()) \
        .to_pandas().reset_index(drop=True)
    assert np.allclose(out["es"], p.expanding().sum(), equal_nan=True)
    assert np.allclose(out["em"], p.expanding(3).mean(), equal_nan=True)
    assert np.allclose(out["ev"], p.expanding(2).var(), equal_nan=True,
                       rtol=1e-6, atol=1e-9)
    assert np.allclose(out["emin"], p.expanding().min(), equal_nan=True)
    ew = s.ewm(alpha=0.3).mean().to_pandas().reset_index(drop=True)
    assert np.allclose(ew, p.ewm(alpha=0.3).mean(), equal_nan=True)
    ev = s.ewm(span=10).var().to_pandas().reset_index(drop=True)
    assert np.allclose(ev, p.ewm(span=10).var(), equal_nan=True,
                       rtol=1e-6, atol=1e-9)


def test_filtered_frame_order_ops_match_pandas(spark):
    """Regression: a filter leaves GAPS in the order-id offsets; the
    monotonic fast paths must detect non-contiguity and fall back, or
    shift/diff/rolling on df[mask] are silently wrong."""
    pdf = pd.DataFrame({"k": np.arange(20), "x": np.arange(20, dtype=float) * 2})
    f0 = gp.Frame(spark.createDataFrame(pdf).repartition(4)).sort_values("k")
    f = f0[f0["x"] % 4 == 0]
    sub = pdf[pdf["x"] % 4 == 0].reset_index(drop=True)
    got_shift = f[["k", "x"]].shift(1).to_pandas().reset_index(drop=True)["x"]
    assert np.allclose(got_shift, sub["x"].shift(1), equal_nan=True)
    got_diff = f[["k", "x"]].diff(1).to_pandas().reset_index(drop=True)["x"]
    assert np.allclose(got_diff, sub["x"].diff(1), equal_nan=True)
    got_roll = f[["k", "x"]].rolling(3).sum().to_pandas().reset_index(drop=True)["x"]
    assert np.allclose(got_roll, sub["x"].rolling(3).sum(), equal_nan=True)


def test_filtered_frame_series_rolling_matches_pandas(spark):
    pdf = pd.DataFrame({"k": np.arange(24), "x": np.arange(24, dtype=float)})
    f0 = gp.Frame(spark.createDataFrame(pdf).repartition(4)).sort_values("k")
    f = f0[f0["x"] % 2 == 0]
    sub = pdf[pdf["x"] % 2 == 0].reset_index(drop=True)
    out = f.assign(r=f["x"].rolling(3).sum(),
                   e=f["x"].expanding().sum()).to_pandas().reset_index(drop=True)
    assert np.allclose(out["r"], sub["x"].rolling(3).sum(), equal_nan=True)
    assert np.allclose(out["e"], sub["x"].expanding().sum(), equal_nan=True)


def test_series_expanding_count_min_periods_physical_rows(spark):
    """pandas guards expanding.count on PHYSICAL rows (row 0 masked
    under min_periods=2 even when it holds no observation)."""
    pdf = pd.DataFrame({"x": [np.nan, 1.0, np.nan, 2.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.assign(c=f["x"].expanding(2).count()).to_pandas()["c"]
    exp = pdf["x"].expanding(2).count()
    assert np.allclose(got.to_numpy(), exp.to_numpy(), equal_nan=True)


def test_is_monotonic_blocked_multi_partition(spark):
    """_monotonic rides the blocked shift kernel — verify both
    directions on a 16-partition frame (a global unpartitioned lag
    would still be correct, so also assert the plan is block-keyed)."""
    pdf = pd.DataFrame({"x": np.arange(3000, dtype=np.int64)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("x")
    s = f["x"]
    assert s.is_monotonic_increasing() is True
    assert s.is_monotonic_decreasing() is False
    # plan shape: the lag inside _monotonic must be the blocked kernel —
    # no partition-less window spec ordered directly on __order__ (the
    # single-task global-window signature); the blocked spec leads with
    # the block id. shift() rebinds the anchor's plan: read it after.
    prev = s.shift(1)
    probe = f._sdf.select(prev._scol.alias("__p__"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__order__" not in plan
    # non-monotonic data
    pdf2 = pd.DataFrame({"x": [1, 2, 2, 1, 5]})
    f2 = gp.Frame(spark.createDataFrame(pdf2).repartition(4))
    assert f2["x"].is_monotonic_increasing() is False
    assert f2["x"].is_monotonic_decreasing() is False


def test_asof_value_true_positions_multi_partition(spark):
    """Series.asof(where) must treat `where` as a LABEL/position, not a
    raw __order__ id: on a 16-partition frame order ids are
    (partition<<33)+offset, so the pre-fix filter kept only partition-0
    rows for any realistic `where`."""
    n = 4000
    pdf = pd.DataFrame({"k": np.arange(n, dtype=np.int64),
                        "v": np.arange(n, dtype=np.float64)})
    pdf.loc[pdf.index % 7 == 3, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    s = f["v"]
    for where in [0, 3, 1234, 3999]:
        exp = pdf["v"].asof(where)
        got = s.asof_value(where)
        if pd.isna(exp):
            assert got is None or pd.isna(got)
        else:
            assert got == exp, f"asof({where}): {got} != {exp}"


@pytest.mark.parametrize("win_type,params", [
    ("bartlett", {}), ("blackmanharris", {}), ("nuttall", {}),
    ("bohman", {}), ("parzen", {}), ("barthann", {}),
    ("gaussian", {"std": 1.5}),
    ("kaiser", {"beta": 8.0}), ("exponential", {"tau": 2.0}),
    ("general_gaussian", {"power": 1.5, "width": 2.0}),
    ("slepian", {"width": 0.3}),
])
def test_win_type_menu_weights_and_rolling(spark, win_type, params):
    """Full scipy.signal.get_window menu (reference core/window.py:595)
    as closed forms: weights are symmetric with the peak at the center
    (except exponential's decay which is symmetric about its center
    parameter), and the weighted rolling mean equals the numpy dot
    product of those weights — verifying the parametrized lag-dot plan
    end-to-end."""
    from go_pandas_spark.window import window_weights

    n = 5
    w = np.array(window_weights(win_type, n, **params))
    assert len(w) == n and np.all(w >= 0)
    assert np.allclose(w, w[::-1]), f"{win_type} weights not symmetric: {w}"
    assert w.argmax() == n // 2
    try:
        from scipy.signal import get_window

        sci = get_window((win_type, *params.values()) if params else win_type,
                         n, fftbins=False)
        assert np.allclose(w, sci, atol=1e-10), f"{win_type}: {w} vs scipy {sci}"
    except (ImportError, ValueError):
        # no scipy in this container; modern scipy also removed the
        # legacy 'slepian' window from get_window (>=1.9)
        pass
    pdf = pd.DataFrame({"x": np.arange(20, dtype=np.float64) ** 1.5})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.rolling(n, win_type=win_type, **params).mean(cols=["x"]).to_pandas()["x"].to_numpy()
    x = pdf["x"].to_numpy()
    exp = np.full(20, np.nan)
    for i in range(n - 1, 20):
        exp[i] = np.dot(x[i - n + 1:i + 1], w) / w.sum()
    assert np.allclose(got, exp, equal_nan=True)


def test_late_series_surface_partition_invariance(spark):
    """ffill/bfill/argsort/valid-index/cumprod give identical results
    regardless of input partitioning (order ids, not positions)."""
    import numpy as np
    import pandas as pd

    import go_pandas_spark as gp
    from go_pandas_spark.frame import Frame

    pdf = pd.DataFrame({"x": [None if i % 3 == 0 else float(i)
                              for i in range(200)]})
    f1 = gp.Frame.from_pandas(spark, pdf)
    f13 = Frame(f1._sdf.repartition(13), f1._index_names)
    for name, fn in [
        ("ffill", lambda f: f["x"].ffill().tolist()),
        ("bfill", lambda f: f["x"].bfill().tolist()),
        ("argsort", lambda f: f["x"].dropna().argsort().tolist()),
        ("fvi", lambda f: [f["x"].first_valid_index()]),
        ("lvi", lambda f: [f["x"].last_valid_index()]),
    ]:
        a, b = fn(f1), fn(f13)
        assert np.allclose(np.asarray(a, dtype=float),
                           np.asarray(b, dtype=float), equal_nan=True), name
    assert np.allclose(f13["x"].ffill().tolist(), pdf["x"].ffill().tolist(),
                       equal_nan=True)


def test_expanding_count_min_periods_rows_blocked(spark):
    """Blocked ungrouped expanding count gates min_periods on ROW
    position like pandas, not non-null observations (fuzz-caught,
    ungrouped_window seed 1010689)."""
    import numpy as np
    import pandas as pd

    import go_pandas_spark as gp

    pdf = pd.DataFrame({"rid": range(8),
                        "v": [np.nan, np.nan, 1.0, np.nan, 2.0, np.nan, np.nan, 3.0]})
    f = gp.Frame.from_pandas(spark, pdf).repartition(3).sort_values("rid")
    got = f.expanding(min_periods=3).count(cols=["v"]).to_pandas() \
        .sort_values("rid")["v"].tolist()
    exp = pdf["v"].expanding(min_periods=3).count().tolist()
    assert all((np.isnan(a) and np.isnan(b)) or a == b for a, b in zip(got, exp)), (got, exp)


def test_dist_expanding_var_nan_rows_many_blocks(spark):
    """A NaN row landing in a block whose local prefix is all-null
    used to yield var=0.0: the local ΣX² partial was NULL, and
    NULL + carry slipped through greatest(NULL, 0.0) as 0.0
    (fuzz seed 10100692). Force one row per block to pin the fix."""
    from go_pandas_spark.operators import distwindow

    vals = [1.0, 4.0, np.nan, 2.0, np.nan, 9.0, 5.0, np.nan]
    pdf = pd.DataFrame({"rid": np.arange(len(vals), dtype="int64"), "v": vals})
    f = gp.Frame.from_pandas(spark, pdf).sort_values("rid")
    old = distwindow._n_blocks
    try:
        distwindow._n_blocks = lambda sdf: len(vals)  # one row per block
        for mp in (1, 3):
            got = f.expanding(min_periods=mp).var(cols=["v"]).to_pandas() \
                .sort_values("rid")["v"].to_numpy()
            exp = pdf["v"].expanding(min_periods=mp).var().to_numpy()
            assert np.allclose(got, exp, equal_nan=True), (mp, got, exp)
    finally:
        distwindow._n_blocks = old


# ---------------------------------------------------------------------------
# EWM second moments: blocked pairwise cov/corr + adjust=False var/std
# ---------------------------------------------------------------------------


def _ewm_pair_frame(spark, n=3000, seed=7, parts=16):
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame({"k": np.arange(n),
                        "x": rng.normal(50, 12, n),
                        "y": rng.normal(-3, 5, n)})
    pdf.loc[rng.rand(n) < 0.08, "x"] = np.nan
    pdf.loc[rng.rand(n) < 0.06, "y"] = np.nan
    pdf.loc[:6, "x"] = np.nan  # leading NaNs
    f = gp.Frame(spark.createDataFrame(pdf).repartition(parts)).sort_values("k")
    return f, pdf


@pytest.mark.parametrize("adjust,ignore_na,alpha", [
    (True, False, 0.3), (True, True, 0.5), (False, False, 0.3),
    (False, False, 0.05), (False, True, 0.7), (False, False, 0.97),
])
def test_ungrouped_ewm_var_noadjust_and_cov_corr_match_pandas(
        spark, adjust, ignore_na, alpha):
    f, pdf = _ewm_pair_frame(spark)
    ew = f.ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na)
    pew = pdf["x"].ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na)
    got_v = ew.var(cols=["x"]).to_pandas().reset_index(drop=True)["x"]
    assert np.allclose(got_v, pew.var(), rtol=1e-7, atol=1e-10, equal_nan=True)
    got_s = ew.std(cols=["x"]).to_pandas().reset_index(drop=True)["x"]
    assert np.allclose(got_s, pew.std(), rtol=1e-7, atol=1e-10, equal_nan=True)
    got_c = ew.cov("x", "y", out_col="c").to_pandas().reset_index(drop=True)["c"]
    assert np.allclose(got_c, pew.cov(pdf["y"]), rtol=1e-7, atol=1e-10,
                       equal_nan=True)
    got_r = ew.corr("x", "y", out_col="r").to_pandas().reset_index(drop=True)["r"]
    assert np.allclose(got_r, pew.corr(pdf["y"]), rtol=1e-6, atol=1e-8,
                       equal_nan=True)


def test_ungrouped_ewm_cov_gap_spanning_blocks(spark):
    """A NaN run longer than a whole block: the cross-block pregap and
    the renormalizing adjust=False gap semantics must both survive."""
    n = 1200
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"k": np.arange(n), "x": rng.normal(0, 1, n),
                        "y": rng.normal(0, 1, n)})
    # gap spans several of 12 blocks but keeps the surviving history
    # weight far above machine epsilon (w^90 ~ 2e-9): inside the
    # regime where the reference kernel itself is numerically valid
    pdf.loc[200:290, ["x", "y"]] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(12)).sort_values("k")
    for adjust in (True, False):
        for ignore_na in (True, False):
            ew = f.ewm(alpha=0.2, adjust=adjust, ignore_na=ignore_na)
            pew = pdf["x"].ewm(alpha=0.2, adjust=adjust, ignore_na=ignore_na)
            got = ew.cov("x", "y", out_col="c").to_pandas().reset_index(drop=True)["c"]
            assert np.allclose(got, pew.cov(pdf["y"]), rtol=1e-7, atol=1e-12,
                               equal_nan=True), (adjust, ignore_na)
            got_v = ew.var(cols=["x"]).to_pandas().reset_index(drop=True)["x"]
            assert np.allclose(got_v, pew.var(), rtol=1e-7, atol=1e-12,
                               equal_nan=True), (adjust, ignore_na)


def test_ungrouped_ewm_second_moment_edges(spark):
    """Constant series -> exact 0 var / NaN corr; all-NaN column -> all
    NaN; alpha=1 -> all NaN (one effective observation forever)."""
    n = 300
    pdf = pd.DataFrame({"k": np.arange(n), "c": np.full(n, 3.25),
                        "z": np.full(n, np.nan),
                        "v": np.sin(np.arange(n) / 7.0)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(6)).sort_values("k")
    for adjust in (True, False):
        ew = f.ewm(alpha=0.4, adjust=adjust)
        pv = pdf["c"].ewm(alpha=0.4, adjust=adjust).var()
        gv = ew.var(cols=["c"]).to_pandas().reset_index(drop=True)["c"]
        assert np.allclose(gv, pv, equal_nan=True, atol=1e-12)
        gr = ew.corr("c", "v", out_col="r").to_pandas()["r"]
        assert gr.isna().all()  # zero-variance side: 0/0
        gz = ew.var(cols=["z"]).to_pandas()["z"]
        assert gz.isna().all()
        gzc = ew.cov("z", "v", out_col="c2").to_pandas()["c2"]
        assert gzc.isna().all()
    g1 = f.ewm(alpha=1.0, adjust=False).var(cols=["v"]).to_pandas()["v"]
    assert g1.isna().all()
    g1c = f.ewm(alpha=1.0, adjust=True).cov("v", "c", out_col="cc").to_pandas()["cc"]
    assert g1c.isna().all()


def test_ungrouped_ewm_cov_var_plans_are_blocked(spark):
    """No ungrouped EWM surface may coalesce to one task any more."""
    pdf = pd.DataFrame({"k": np.arange(500), "x": np.arange(500, dtype=float),
                        "y": np.arange(500, dtype=float) ** 1.5})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for out in (f.ewm(alpha=0.4, adjust=False).var(cols=["x"]),
                f.ewm(alpha=0.4, adjust=True).cov("x", "y", out_col="c"),
                f.ewm(alpha=0.4, adjust=False).corr("x", "y", out_col="r")):
        plan = out._sdf._jdf.queryExecution().executedPlan().toString()
        if "MapInPandas" in plan:  # aligned zero-shuffle layout (r13)
            assert "Exchange" not in plan.split("MapInPandas")[0]
        else:
            assert "hashpartitioning(__blk__" in plan
        assert "Coalesce 1" not in plan


def test_ungrouped_ewm_min_periods_masks(spark):
    """min_periods parity: the reference masks every ewm output row
    with fewer than minp observations (window.pyx minp). Ungrouped
    blocked plans mask via a blocked expanding obs count; grouped
    paths forward to real pandas."""
    f, pdf = _ewm_pair_frame(spark, n=1200, seed=23, parts=10)
    for minp in (3, 25):
        for adjust in (True, False):
            ew = f.ewm(alpha=0.2, min_periods=minp, adjust=adjust)
            pew = pdf["x"].ewm(alpha=0.2, min_periods=minp, adjust=adjust)
            for stat in ("mean", "var"):
                g = (getattr(ew, stat)(cols=["x"])
                     .to_pandas().reset_index(drop=True)["x"])
                assert np.allclose(g, getattr(pew, stat)(), rtol=1e-7,
                                   atol=1e-10, equal_nan=True), (stat, minp, adjust)
            g = ew.cov("x", "y", out_col="c").to_pandas().reset_index(drop=True)["c"]
            assert np.allclose(g, pew.cov(pdf["y"]), rtol=1e-7, atol=1e-10,
                               equal_nan=True), ("cov", minp, adjust)
            g = ew.corr("x", "y", out_col="r").to_pandas().reset_index(drop=True)["r"]
            assert np.allclose(g, pew.corr(pdf["y"]), rtol=1e-6, atol=1e-8,
                               equal_nan=True), ("corr", minp, adjust)


# ---------------------------------------------------------------------------
# Expanding non-decomposables: blocked moments + sequential guard
# ---------------------------------------------------------------------------


def test_ungrouped_expanding_moments_blocked_match_pandas(spark):
    """skew/kurt/sem/cov/corr over the whole frame were single-task
    global windows pre-r7; now they ride running power sums through
    expanding_blocked (prefix carry), exactly matching pandas."""
    rng = np.random.RandomState(5)
    n = 2000
    pdf = pd.DataFrame({"k": np.arange(n), "v": rng.normal(3, 2, n),
                        "u": rng.normal(-1, 4, n)})
    pdf.loc[rng.rand(n) < 0.1, "v"] = np.nan
    pdf.loc[rng.rand(n) < 0.08, "u"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for stat in ("skew", "kurt", "sem"):
        got = (getattr(f[["v"]].expanding(), stat)()
               .to_pandas().reset_index(drop=True)["v"])
        exp = getattr(pdf["v"].expanding(), stat)()
        assert np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True), stat
        plan = (getattr(f[["v"]].expanding(), stat)()
                ._sdf._jdf.queryExecution().executedPlan().toString())
        assert "hashpartitioning(__blk__" in plan, stat
    for stat in ("cov", "corr"):
        got = (getattr(f.expanding(), stat)("v", "u")
               .to_frame("o").to_pandas()["o"])
        exp = getattr(pdf["v"].expanding(), stat)(pdf["u"])
        assert np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True), stat
    got = (f[["v"]].expanding(min_periods=10).kurt()
           .to_pandas().reset_index(drop=True)["v"])
    exp = pdf["v"].expanding(min_periods=10).kurt()
    assert np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True)


def test_ungrouped_expanding_median_guarded(spark, monkeypatch):
    """Ungrouped expanding median/quantile/apply are order statistics /
    callables over every growing prefix — sequential by construction.
    Within the bound they compute exactly; past it they refuse with
    the distributed alternatives (kendall/scipy guard pattern)."""
    from go_pandas_spark.window import Expanding

    pdf = pd.DataFrame({"k": np.arange(50), "v": np.arange(50.0)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(4)).sort_values("k")
    got = f[["v"]].expanding().median().to_pandas().reset_index(drop=True)["v"]
    assert np.allclose(got, pdf["v"].expanding().median(), equal_nan=True)
    monkeypatch.setattr(Expanding, "_SEQ_MAX_ROWS", 10)
    for thunk, pat in [
        (lambda: f[["v"]].expanding().median(), "median"),
        (lambda: f[["v"]].expanding().quantile(0.9), "quantile"),
        (lambda: f[["v"]].expanding().apply(lambda a: a.sum()), "apply"),
    ]:
        with pytest.raises(ValueError, match="sequential by construction"):
            thunk()
    # grouped path is distributed and must NOT be guarded
    pdf2 = pdf.assign(g=pdf["k"] % 3)
    f2 = gp.Frame(spark.createDataFrame(pdf2).repartition(4)).sort_values("k")
    got = (f2.groupby("g").expanding().median(cols=["v"])
           .to_pandas().reset_index(drop=True)["v"])
    exp = pdf2.groupby("g")["v"].transform(lambda s: s.expanding().median())
    assert np.allclose(got, exp, equal_nan=True)


def test_ungrouped_rolling_cov_corr_blocked(spark):
    """rolling.cov/corr over the whole frame rode a global window
    pre-r7; bounded windows distribute via the boundary-borrow plan,
    so the same pairwise expression now evaluates per block."""
    rng = np.random.RandomState(9)
    n = 1500
    pdf = pd.DataFrame({"k": np.arange(n), "v": rng.normal(0, 1, n),
                        "u": rng.normal(5, 3, n)})
    pdf.loc[rng.rand(n) < 0.1, "v"] = np.nan
    pdf.loc[rng.rand(n) < 0.07, "u"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for stat in ("cov", "corr"):
        for win, mp in ((10, None), (25, 5)):
            got = (getattr(f.rolling(win, min_periods=mp), stat)("v", "u")
                   .to_frame("o").to_pandas()["o"])
            exp = getattr(pdf["v"].rolling(win, min_periods=mp), stat)(pdf["u"])
            assert np.allclose(got, exp, rtol=1e-6, atol=1e-9,
                               equal_nan=True), (stat, win, mp)
    plan = (f.rolling(10).cov("v", "u").to_frame("o")
            ._sdf._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning(__blk__" in plan


def test_ungrouped_fill_limit_and_interpolate_blocked(spark):
    """Ungrouped ffill/bfill with limit= and whole-frame interpolate
    rode global windows pre-r7; both now compose blocked running picks
    + a blocked running count. Parity vs pandas incl. edge NaN runs."""
    rng = np.random.RandomState(13)
    n = 1200
    pdf = pd.DataFrame({"k": np.arange(n), "v": rng.normal(0, 5, n),
                        "u": rng.normal(2, 1, n)})
    pdf.loc[rng.rand(n) < 0.35, "v"] = np.nan
    pdf.loc[rng.rand(n) < 0.3, "u"] = np.nan
    pdf.loc[:4, "v"] = np.nan
    pdf.loc[n - 5:, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for method in ("ffill", "bfill"):
        for lim in (1, 3, None):
            got = (f.fillna(method=method, subset=["v", "u"], limit=lim)
                   .to_pandas().sort_values("k"))
            exp = getattr(pdf[["v", "u"]], method)(limit=lim)
            assert np.allclose(got[["v", "u"]].to_numpy(), exp.to_numpy(),
                               equal_nan=True), (method, lim)
    for kw in ({}, {"limit": 2}, {"limit": 2, "limit_direction": "both"},
               {"limit_direction": "backward"}, {"limit_area": "inside"},
               {"limit": 1, "limit_area": "outside", "limit_direction": "both"}):
        got = (f.interpolate(subset=["v"], **kw)
               .to_pandas().sort_values("k")["v"])
        exp = pdf["v"].interpolate(**kw)
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12,
                           equal_nan=True), kw
    plan = (f.interpolate(subset=["v"])
            ._sdf._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning(__blk__" in plan
    plan = (f.fillna(method="ffill", subset=["v"], limit=2)
            ._sdf._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning(__blk__" in plan


def test_expanding_agg_blocked_and_sem_ddof_quirk(spark):
    """expanding.agg of decomposable specs rides ONE multi-spec blocked
    pass; window sem uses the SAMPLE std regardless of ddof (pandas
    forwards ddof only to the sqrt(n-ddof) denominator — n == ddof
    gives inf, not NULL)."""
    rng = np.random.RandomState(3)
    n = 600
    pdf = pd.DataFrame({"k": np.arange(n), "v": rng.normal(4, 3, n),
                        "g": np.arange(n) % 3})
    pdf.loc[rng.rand(n) < 0.2, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    got = (f[["v"]].expanding(min_periods=3).agg(["sum", "mean", "count", "std"])
           .to_pandas().reset_index(drop=True))
    exp = pdf["v"].expanding(min_periods=3).agg(["sum", "mean", "count", "std"])
    for fn in ("sum", "mean", "count", "std"):
        assert np.allclose(got[("v", fn)], exp[fn], rtol=1e-9, equal_nan=True), fn
    plan = (f[["v"]].expanding().agg(["sum"])
            ._sdf._jdf.queryExecution().executedPlan().toString())
    assert "hashpartitioning(__blk__" in plan
    for ddof in (0, 1, 2):
        got = (f[["v"]].expanding().sem(ddof=ddof)
               .to_pandas().reset_index(drop=True)["v"])
        exp = pdf["v"].expanding().sem(ddof=ddof)
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12,
                           equal_nan=True), ddof
        got = (f.groupby("g").rolling(6, min_periods=2).sem(cols=["v"], ddof=ddof)
               .to_pandas().sort_values("k")["v"])
        exp = pdf.groupby("g")["v"].transform(
            lambda s: s.rolling(6, min_periods=2).sem(ddof=ddof))
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12,
                           equal_nan=True), ("grouped", ddof)


def test_series_ewm_cov_corr(spark):
    """Series.ewm(...).cov/corr(other) — rides the blocked pairwise
    engines on a derived two-column frame; other must share the
    underlying relation."""
    rng = np.random.RandomState(21)
    n = 800
    pdf = pd.DataFrame({"k": np.arange(n), "a": rng.normal(0, 1, n),
                        "b": rng.normal(3, 2, n)})
    pdf.loc[rng.rand(n) < 0.1, "a"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for adjust in (True, False):
        got = (f["a"].ewm(alpha=0.25, adjust=adjust).corr(f["b"])
               .to_frame("o").to_pandas()["o"])
        exp = pdf["a"].ewm(alpha=0.25, adjust=adjust).corr(pdf["b"])
        assert np.allclose(got, exp, rtol=1e-6, atol=1e-8, equal_nan=True), adjust
        got = (f["a"].ewm(alpha=0.25, adjust=adjust, min_periods=5).cov(f["b"])
               .to_frame("o").to_pandas()["o"])
        exp = pdf["a"].ewm(alpha=0.25, adjust=adjust, min_periods=5).cov(pdf["b"])
        assert np.allclose(got, exp, rtol=1e-7, atol=1e-10, equal_nan=True), adjust


def test_window_var_std_ddof(spark):
    """rolling/expanding var/std take ddof (pandas API): ddof=0 routes
    to population variance (grouped windows) or the power-sum moments
    (ungrouped expanding blocked plan); ddof ≥ 2 is the (n−1)/(n−ddof)
    rescale of the stable sample variance with the pandas nobs > ddof
    NaN gate (r7 ADVICE: var_pop silently answered for every ddof≠1)."""
    rng = np.random.RandomState(3)
    n = 700
    pdf = pd.DataFrame({"k": np.arange(n), "v": rng.normal(4, 3, n),
                        "g": np.arange(n) % 3})
    pdf.loc[rng.rand(n) < 0.2, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for ddof in (0, 1, 2, 3):
        got = (f[["v"]].expanding().var(ddof=ddof)
               .to_pandas().reset_index(drop=True)["v"])
        assert np.allclose(got, pdf["v"].expanding().var(ddof=ddof),
                           rtol=1e-9, atol=1e-12, equal_nan=True), ddof
        got = (f[["v"]].rolling(5, min_periods=2).std(ddof=ddof)
               .to_pandas().reset_index(drop=True)["v"])
        assert np.allclose(got, pdf["v"].rolling(5, min_periods=2).std(ddof=ddof),
                           rtol=1e-9, atol=1e-12, equal_nan=True), ddof
        got = (f.groupby("g").rolling(5, min_periods=2).var(cols=["v"], ddof=ddof)
               .to_pandas().sort_values("k")["v"])
        exp = pdf.groupby("g")["v"].transform(
            lambda s: s.rolling(5, min_periods=2).var(ddof=ddof))
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12,
                           equal_nan=True), ("grouped", ddof)


def test_expanding_moments_offset_stability(spark):
    """mean ≫ std data (offset 1e6 / 1e8): the blocked power-sum
    engines center each column at its first valid value (r7 ADVICE
    high — raw uncentered Σx..Σx⁴ silently lost every digit there).
    skew/kurt/sem check directly against pandas (whose kernels also
    center); cov/corr check SHIFT-INVARIANCE against pandas computed
    on the residuals, because pandas' own expanding cov is the naive
    mean(xy)−mean(x)mean(y) form and is itself wrong at 1e8."""
    rng = np.random.RandomState(7)
    n = 400
    ra, rb = rng.normal(0, 1, n), rng.normal(0, 2, n)
    ra[[5, 17, 203]] = np.nan
    base = pd.DataFrame({"a": ra, "b": rb})
    for off in (1e6, 1e8):
        pdf = pd.DataFrame({"k": np.arange(n), "a": off + ra,
                            "b": off * 0.5 + rb})
        f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
        for stat in ("skew", "kurt", "sem"):
            got = (getattr(f[["a"]].expanding(), stat)()
                   .to_pandas().reset_index(drop=True)["a"])
            exp = getattr(pdf["a"].expanding(), stat)()
            assert np.allclose(got, exp, rtol=1e-6, atol=1e-9,
                               equal_nan=True), (off, stat)
        got = (f[["a"]].expanding().var(ddof=2)
               .to_pandas().reset_index(drop=True)["a"])
        exp = pdf["a"].expanding().var(ddof=2)
        assert np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True), off
        for stat in ("cov", "corr"):
            got = (getattr(f.expanding(), stat)("a", "b")
                   .to_frame("o").to_pandas()["o"])
            exp = getattr(base["a"].expanding(), stat)(base["b"])
            # storing off+residual at 1e8 quantizes the residuals at
            # ~eps·off ≈ 1.5e-8 — that input rounding, not the engine,
            # bounds the achievable agreement with the exact residuals
            assert np.allclose(got, exp, rtol=1e-5, atol=1e-6,
                               equal_nan=True), (off, stat)


def test_series_ewm_pairwise_rejects_foreign_frame(spark):
    """Series.ewm cov/corr with an `other` from a DIFFERENT frame must
    raise a clear ValueError, not an opaque analysis error or a silent
    wrong-data answer (r7 ADVICE low, series.py)."""
    import pytest

    pdf = pd.DataFrame({"k": np.arange(20), "a": np.arange(20.0)})
    pdf2 = pd.DataFrame({"k": np.arange(20), "a": np.arange(20.0) * 2})
    f1 = gp.Frame(spark.createDataFrame(pdf)).sort_values("k")
    f2 = gp.Frame(spark.createDataFrame(pdf2)).sort_values("k")
    with pytest.raises(ValueError, match="same frame"):
        f1["a"].ewm(alpha=0.5).cov(f2["a"])
    # same-frame pair still works
    got = f1["a"].ewm(alpha=0.5).corr(f1["k"]).to_frame("o").to_pandas()["o"]
    exp = pdf["a"].ewm(alpha=0.5).corr(pdf["k"])
    assert np.allclose(got, exp, rtol=1e-8, equal_nan=True)


def test_ewm_var_degenerate_gap_is_exact(spark):
    """When a NaN gap decays history weight to ~machine epsilon, the
    raw-sums estimator (and the reference kernel itself) loses all
    precision — pandas returns an fp-noise value several % off, or NaN
    once its denominator collapses below eps. The pairwise form
    U/(2T) is exact there: assert against the rational-arithmetic
    ground truth, not pandas."""
    from fractions import Fraction

    rng = np.random.RandomState(99)
    n = 160
    x = rng.normal(60, 16, n)
    x[30:130] = np.nan  # w=0.7: history weight 0.7^100 ~ 3e-16
    pdf = pd.DataFrame({"k": np.arange(n), "v": x})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    got = (f.ewm(alpha=0.3, adjust=True).var(cols=["v"])
           .to_pandas().reset_index(drop=True)["v"].to_numpy())
    wq = Fraction(7, 10)
    for t in (130, 131, 140):
        idx = [i for i in range(t + 1) if not np.isnan(x[i])]
        ws = [wq ** (t - i) for i in idx]
        xs = [Fraction(float(x[i])) for i in idx]
        S0 = sum(ws)
        S1 = sum(wi * xi for wi, xi in zip(ws, xs))
        S2 = sum(wi * xi * xi for wi, xi in zip(ws, xs))
        V2 = sum(wi * wi for wi in ws)
        true = float((S0 * S2 - S1 * S1) / (S0 * S0 - V2))
        assert np.isclose(got[t], true, rtol=1e-9), (t, got[t], true)


# ----------------------------------------------------------------- #
# r8: block counts past the old 256-literal ceiling                  #
# ----------------------------------------------------------------- #

def _plan_str(sdf) -> str:
    return sdf._jdf.queryExecution().optimizedPlan().treeString()


def test_blocked_kernels_high_block_count(spark):
    """Parity at n_blocks=1024 — 4× the r7 ceiling. Exercises the
    broadcast sid-join layout (monotonic order id), the single-array
    binary-search layout (value keys / non-contiguous ids) and the
    closure-shipped EWM carries at >256 blocks."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(11)
    n = 20_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(4, 3, n),
                         "w": rng.normal(-1, 2, n)})
    base.loc[rng.rand(n) < 0.12, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(base).repartition(16)).sort_values("k")
    sdf = f._sdf
    oc = F.col(I.ORDER_COL)

    out = dw.expanding_blocked(sdf, oc, {"v": ("v", "sum")}, n_blocks=1024)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    assert np.allclose(got, base["v"].expanding().sum(), rtol=1e-9,
                       equal_nan=True)

    out = dw.rank_blocked(sdf, "v", method="average", pct=True,
                          n_blocks=1024, out_name="r")
    got = out.toPandas().sort_values("k")["r"].to_numpy()
    assert np.allclose(got, base["v"].rank(method="average", pct=True),
                       rtol=1e-12, equal_nan=True)

    # descending + na_option='top': the upper-bound binary search and
    # the largest-first block layout, nulls pinned to block 0
    out = dw.rank_blocked(sdf, "v", method="min", ascending=False,
                          na_option="top", n_blocks=1024, out_name="r")
    got = out.toPandas().sort_values("k")["r"].to_numpy()
    exp = base["v"].rank(method="min", ascending=False, na_option="top")
    assert np.allclose(got, exp, rtol=1e-12, equal_nan=True)

    out = dw.running_pick_blocked(sdf, [oc.asc()], ["v"], back=True,
                                  prefix="p_", block_key=oc, n_blocks=1024)
    got = out.toPandas().sort_values("k")["p_v"].to_numpy()
    assert np.allclose(got, base["v"].ffill(), rtol=1e-12, equal_nan=True)

    # running pick over a VALUE key (the no-by as-of shape) through the
    # >64-bound binary-search layout: duplicated keys + NaNs in the
    # picked column, order = (key, k) total order
    tdf = base.assign(t=(np.arange(n) // 3).astype("float64"))
    ft = gp.Frame(spark.createDataFrame(tdf).repartition(16)).sort_values("k")
    out = dw.running_pick_blocked(
        ft._sdf, [F.col("t").asc(), F.col("k").asc()], ["v"], back=True,
        prefix="p_", block_key=F.col("t"), n_blocks=1024)
    got = out.toPandas().sort_values("k")["p_v"].to_numpy()
    exp = tdf.sort_values(["t", "k"])["v"].ffill().to_numpy()
    assert np.allclose(got, exp, rtol=1e-12, equal_nan=True)

    out = dw.ewm_mean_blocked(sdf, oc, ["v"], alpha=0.2, adjust=True,
                              ignore_na=False, n_blocks=1024)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    assert np.allclose(got, base["v"].ewm(alpha=0.2).mean(), rtol=1e-8,
                       equal_nan=True)

    out = dw.ewm_var_blocked(sdf, oc, ["v"], alpha=0.2, ignore_na=False,
                             n_blocks=1024)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    assert np.allclose(got, base["v"].ewm(alpha=0.2).var(), rtol=1e-7,
                       atol=1e-10, equal_nan=True)

    out = dw.ewm_noadjust_blocked(sdf, oc, [("var", "v", "v")], alpha=0.2,
                                  ignore_na=False, n_blocks=1024)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    exp = base["v"].ewm(alpha=0.2, adjust=False).var()
    assert np.allclose(got, exp, rtol=1e-7, atol=1e-10, equal_nan=True)

    out = dw.ewm_pairwise_adjust_blocked(sdf, oc, "v", "w", "o", alpha=0.2,
                                         ignore_na=False, corr=True,
                                         n_blocks=1024)
    got = out.toPandas().sort_values("k")["o"].to_numpy()
    exp = base["v"].ewm(alpha=0.2).corr(base["w"])
    assert np.allclose(got, exp, rtol=1e-6, atol=1e-8, equal_nan=True)

    # approx expanding quantile: broadcast prefix-count table at 1024
    # blocks, steady-state error still ~one grid cell
    out = dw.expanding_quantile_approx_blocked(sdf, oc, ["v"], 0.5,
                                               min_periods=3, n_blocks=1024)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    exact = base["v"].expanding(min_periods=3).median().to_numpy()
    m = ~np.isnan(got)
    assert np.array_equal(np.isnan(got), np.isnan(exact))
    assert np.median(np.abs(got - exact)[m]) < 0.05
    assert np.abs(got - exact)[m][-2000:].max() < 0.1


def test_blocked_high_count_after_filter_uses_binsearch(spark):
    """A filtered frame leaves offset gaps in the order id — the
    monotonic sid layout must refuse and the percentile layout must
    carry >LIT_MAX bounds through the broadcast binary search, still
    matching pandas."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(13)
    n = 8_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(0, 5, n)})
    f = gp.Frame(spark.createDataFrame(base).repartition(16)).sort_values("k")
    f = f[f["v"] > -4.0]  # ~80% survive, gaps everywhere
    ref = base[base["v"] > -4.0].reset_index(drop=True)

    out = dw.expanding_blocked(f._sdf, F.col(I.ORDER_COL),
                               {"v": ("v", "sum")}, n_blocks=300)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    assert np.allclose(got, ref["v"].expanding().sum(), rtol=1e-9,
                       equal_nan=True)


def test_blocked_plan_size_o1_in_block_count(spark):
    """The r7 ceiling existed because block bounds/carries were O(P)
    literal expression nodes. Now they ride broadcast relations (sid
    table / single bounds array), so the OPTIMIZED plan must not grow
    with the block count: 1024 blocks ≤ ~1.2× the 128-block plan."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(17)
    n = 6_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(0, 1, n)})
    f = gp.Frame(spark.createDataFrame(base).repartition(16)).sort_values("k")
    sdf = f._sdf
    oc = F.col(I.ORDER_COL)

    lo = len(_plan_str(dw.expanding_blocked(sdf, oc, {"v": ("v", "sum")},
                                            n_blocks=128)))
    hi = len(_plan_str(dw.expanding_blocked(sdf, oc, {"v": ("v", "sum")},
                                            n_blocks=1024)))
    assert hi <= 1.2 * lo, ("expanding plan grows with P", lo, hi)

    lo = len(_plan_str(dw.rank_blocked(sdf, "v", n_blocks=128, out_name="r")))
    hi = len(_plan_str(dw.rank_blocked(sdf, "v", n_blocks=1024, out_name="r")))
    assert hi <= 1.2 * lo, ("rank plan grows with P", lo, hi)


def test_ewm_run_ungrouped_refuses(spark):
    """The pre-r7 coalesce(1) last-resorts in EWM._run/_run_pairwise
    are now HARD refusals: a future EWM method that forgets to route
    ungrouped input through a blocked plan fails loudly instead of
    silently funneling the frame onto one task (r7 VERDICT wrong #1)."""
    from go_pandas_spark.window import EWM

    pdf = pd.DataFrame({"k": np.arange(10), "v": np.arange(10.0)})
    f = gp.Frame(spark.createDataFrame(pdf)).sort_values("k")
    op = EWM(f, alpha=0.5)
    with pytest.raises(AssertionError, match="blocked distwindow plan"):
        op._run("mean")
    with pytest.raises(AssertionError, match="blocked distwindow plan"):
        op._run_pairwise("cov", "v", "v", "o")
    # the public surface still answers (blocked plans, not _run)
    got = f[["v"]].ewm(alpha=0.5).mean().to_pandas()["v"]
    assert np.allclose(got, pdf["v"].ewm(alpha=0.5).mean(), rtol=1e-9)


def test_expanding_quantile_approx(spark):
    """Opt-in approximate expanding quantile (r8 stretch — the
    reference has NO approximate aggregates, SURVEY §2.4): blocked
    grid-snapped quantile with exact rank accounting. Contract checks:
    (a) every answer is an actual data value (the equi-depth grid is
    made of real elements); (b) the answer's prefix rank REACHES the
    target order statistic k = floor(q(n-1))+1; (c) steady-state value
    error is about one grid cell; early small-n prefixes are coarse by
    design (documented)."""
    rng = np.random.RandomState(23)
    n = 20_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(10, 4, n)})
    base.loc[rng.rand(n) < 0.1, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(base).repartition(16)).sort_values("k")
    vals = base["v"].to_numpy()
    value_set = set(vals[~np.isnan(vals)])
    for q in (0.25, 0.5, 0.9):
        got = (f[["v"]].expanding(min_periods=3).quantile(q, approx=True)
               .to_pandas().reset_index(drop=True)["v"].to_numpy())
        exact = base["v"].expanding(min_periods=3).quantile(q).to_numpy()
        assert np.array_equal(np.isnan(got), np.isnan(exact)), q
        m = ~np.isnan(got)
        assert set(got[m]) <= value_set, q  # (a) real data values
        # (b) rank property on sampled prefixes
        for t in range(199, n, 997):
            if np.isnan(got[t]):
                continue
            pref = vals[:t + 1]
            pref = pref[~np.isnan(pref)]
            k = int(np.floor(q * (len(pref) - 1))) + 1
            assert (pref <= got[t]).sum() >= k, (q, t)
        # (c) steady-state error ~ grid cell; early prefixes coarse
        err = np.abs(got - exact)[m]
        assert np.median(err) < 0.05, q
        assert err[-2000:].max() < 0.1, q
    # median(approx=True) is quantile(0.5)
    got = (f[["v"]].expanding(min_periods=3).median(approx=True)
           .to_pandas().reset_index(drop=True)["v"].to_numpy())
    exact = base["v"].expanding(min_periods=3).median().to_numpy()
    m = ~np.isnan(got)
    assert np.median(np.abs(got - exact)[m]) < 0.05
    # exact path still refuses nothing at this size and stays exact
    got = (f[["v"]].head(2000).expanding(min_periods=3).median()
           .to_pandas().reset_index(drop=True)["v"].to_numpy())
    exact = base["v"].head(2000).expanding(min_periods=3).median().to_numpy()
    assert np.allclose(got, exact, rtol=1e-12, equal_nan=True)


def test_series_window_var_offset_stability(spark):
    """Series-mode rolling/expanding var/std (pure-Column blocked
    expressions) center their power sums at an in-data reference (r8
    — raw Σx/Σx² lost digits at |mean| ≫ std). At offset 1e8 the
    engine is exact while pandas' own rolling add/remove kernel drifts
    ~1e-6, so the oracle is pandas on the exact residuals
    (shift-invariance), and the direct-pandas comparison uses the
    looser bound pandas itself meets."""
    rng = np.random.RandomState(9)
    n = 4_000
    resid = rng.normal(0, 1, n)
    resid[rng.rand(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "v": 1e8 + resid})
    base = pd.Series(pdf["v"].to_numpy() - 1e8)  # exact float op
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for ddof in (1, 2):
        got = (f["v"].rolling(9, min_periods=3).var(ddof=ddof)
               .to_frame("o").to_pandas()["o"].to_numpy())
        exp = base.rolling(9, min_periods=3).var(ddof=ddof).to_numpy()
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12,
                           equal_nan=True), ("roll", ddof)
        got = (f["v"].expanding(min_periods=3).std(ddof=ddof)
               .to_frame("o").to_pandas()["o"].to_numpy())
        exp = base.expanding(min_periods=3).std(ddof=ddof).to_numpy()
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12,
                           equal_nan=True), ("exp", ddof)
    # direct pandas comparison at pandas' own accuracy
    got = (f["v"].rolling(9, min_periods=3).var()
           .to_frame("o").to_pandas()["o"].to_numpy())
    exp = pdf["v"].rolling(9, min_periods=3).var().to_numpy()
    assert np.allclose(got, exp, rtol=1e-4, atol=1e-5, equal_nan=True)


def test_rolling_cov_corr_offset_stability(spark):
    """Frame-mode rolling cov/corr center at sampled first-valid
    values (r8): at offset 1e8 the engine matches pandas computed on
    the exact residuals (the reference's own rolling cov is the naive
    uncentered form and is itself wrong there)."""
    rng = np.random.RandomState(12)
    n = 3_000
    ra, rb = rng.normal(0, 1, n), rng.normal(0, 2, n)
    ra[rng.rand(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "a": 1e8 + ra, "b": 5e7 + rb})
    base = pd.DataFrame({"a": pdf["a"] - 1e8, "b": pdf["b"] - 5e7})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    got = (f.rolling(20, min_periods=4).cov("a", "b")
           .to_frame("o").to_pandas()["o"].to_numpy())
    exp = base["a"].rolling(20, min_periods=4).cov(base["b"]).to_numpy()
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    got = (f.rolling(20, min_periods=4).corr("a", "b")
           .to_frame("o").to_pandas()["o"].to_numpy())
    exp = base["a"].rolling(20, min_periods=4).corr(base["b"]).to_numpy()
    assert np.allclose(got, exp, rtol=1e-7, atol=1e-9, equal_nan=True)


# ----------------------------------------------------------------- #
# r9: fused moments pass, collected carries, memoized local tables   #
# ----------------------------------------------------------------- #

def test_expanding_moments_fused_single_pass(spark):
    """Expanding.moments computes simple + moment + pairwise stats in
    ONE blocked pass (r8 VERDICT weak #1): parity against pandas for
    every requested output, and the executed plan holds ZERO
    Exchange SinglePartition subtrees — the r8 chained form carried 85
    (one lazy carry fold per statistic per call)."""
    rng = np.random.RandomState(21)
    n = 3_000
    a = rng.normal(3, 2, n)
    b = rng.normal(-1, 4, n)
    a[[7, 100, 2000]] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "a": a, "b": b})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    out = f.expanding().moments({
        "m_sum": ("a", "sum"), "m_skew": ("a", "skew"),
        "m_kurt": ("a", "kurt"), "m_sem": ("b", "sem"),
        "m_cov": ("a", "b", "cov"), "m_corr": ("a", "b", "corr")})
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 0, "carry folds back"
    assert "hashpartitioning(__blk__" in plan
    got = out.to_pandas().sort_values("k").reset_index(drop=True)
    assert np.allclose(got["m_sum"], pdf["a"].expanding().sum(),
                       rtol=1e-9, equal_nan=True)
    assert np.allclose(got["m_skew"], pdf["a"].expanding().skew(),
                       rtol=1e-7, atol=1e-10, equal_nan=True)
    assert np.allclose(got["m_kurt"], pdf["a"].expanding().kurt(),
                       rtol=1e-7, atol=1e-10, equal_nan=True)
    assert np.allclose(got["m_sem"], pdf["b"].expanding().sem(),
                       rtol=1e-7, atol=1e-10, equal_nan=True)
    assert np.allclose(got["m_cov"], pdf["a"].expanding().cov(pdf["b"]),
                       rtol=1e-7, atol=1e-10, equal_nan=True)
    assert np.allclose(got["m_corr"], pdf["a"].expanding().corr(pdf["b"]),
                       rtol=1e-7, atol=1e-10, equal_nan=True)


def test_expanding_moments_fused_min_periods(spark):
    """min_periods reaches every family in the fused pass: simple
    kinds gate like expanding_blocked (count on physical rows, others
    on observations), moment/pairwise on observation counts."""
    rng = np.random.RandomState(22)
    n = 400
    a = rng.normal(0, 1, n)
    a[:5] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "a": a})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(4)).sort_values("k")
    out = (f.expanding(min_periods=8).moments(
        {"s": ("a", "sum"), "c": ("a", "count"), "v": ("a", "skew")})
        .to_pandas().sort_values("k").reset_index(drop=True))
    e = pdf["a"].expanding(min_periods=8)
    assert np.allclose(out["s"], e.sum(), rtol=1e-9, equal_nan=True)
    assert np.allclose(out["c"], e.count(), rtol=1e-12, equal_nan=True)
    assert np.allclose(out["v"], e.skew(), rtol=1e-7, atol=1e-10,
                       equal_nan=True)


def test_chained_blocked_calls_stay_linear(spark):
    """Users who still CHAIN per-stat calls (the pre-r9 idiom) get a
    linear plan too: collected carries mean no Exchange SinglePartition
    subtree per chained call, and parity holds across the chain."""
    rng = np.random.RandomState(23)
    n = 2_000
    pdf = pd.DataFrame({"k": np.arange(n), "a": rng.normal(5, 2, n),
                        "b": rng.normal(0, 1, n)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    g = f.expanding().skew(cols=["a"])
    s = g.expanding().cov("a", "b")
    out = s._frame
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") == 0, "carry folds back"
    got = out.to_pandas().sort_values("k").reset_index(drop=True)
    assert np.allclose(got["a"], pdf["a"].expanding().skew(),
                       rtol=1e-7, atol=1e-10, equal_nan=True)
    # cov leg computed on the ORIGINAL a (chained input is skew's
    # frame, whose `a` was replaced — the pairwise spec reads a's
    # post-skew values, so compare against skew-of-a vs b)
    exp = pdf["a"].expanding().skew().expanding().cov(pdf["b"])
    assert np.allclose(got["cov_a_b"], exp, rtol=1e-6, atol=1e-8,
                       equal_nan=True)


def test_expanding_var_std_ddof1_offset_stable(spark):
    """ADVICE r8 medium: the DEFAULT ddof=1 frame expanding var/std
    (and agg(['var','std'])) now run on CENTERED power sums inside
    expanding_blocked — at offset 1e8 the raw form lost every digit."""
    rng = np.random.RandomState(24)
    n = 500
    resid = rng.normal(0, 1, n)
    for off in (1e6, 1e8):
        pdf = pd.DataFrame({"k": np.arange(n), "v": off + resid})
        f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
        got = (f[["v"]].expanding().var().to_pandas()
               .reset_index(drop=True)["v"])
        assert np.allclose(got, pdf["v"].expanding().var(),
                           rtol=1e-6, atol=1e-9, equal_nan=True), off
        got = (f[["v"]].expanding().std().to_pandas()
               .reset_index(drop=True)["v"])
        assert np.allclose(got, pdf["v"].expanding().std(),
                           rtol=1e-6, atol=1e-9, equal_nan=True), off
        ag = (f[["v"]].expanding().agg(["var", "std"]).to_pandas()
              .reset_index(drop=True))
        assert np.allclose(ag[("v", "var")], pdf["v"].expanding().var(),
                           rtol=1e-6, atol=1e-9, equal_nan=True), off
        assert np.allclose(ag[("v", "std")], pdf["v"].expanding().std(),
                           rtol=1e-6, atol=1e-9, equal_nan=True), off


def test_expanding_agg_min_max_same_column(spark):
    """Regression (r9): Spark resolves column names case-insensitively
    by default, so min/max partials on ONE column must not differ only
    by case (`__lm_` vs the old `__lM_` → AMBIGUOUS_REFERENCE)."""
    rng = np.random.RandomState(25)
    pdf = pd.DataFrame({"k": np.arange(300), "v": rng.normal(0, 3, 300)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(4)).sort_values("k")
    out = (f[["v"]].expanding().agg(["min", "max", "var", "std"])
           .to_pandas().reset_index(drop=True))
    assert np.allclose(out[("v", "min")], pdf["v"].expanding().min(),
                       rtol=1e-12)
    assert np.allclose(out[("v", "max")], pdf["v"].expanding().max(),
                       rtol=1e-12)
    assert np.allclose(out[("v", "var")], pdf["v"].expanding().var(),
                       rtol=1e-9, equal_nan=True)


def test_memo_table_identity_and_pin_stability(spark):
    """Driver-built broadcast tables are RDD-backed and canonicalize
    by RDD identity — _memo_table must return the SAME DataFrame for
    the same content so rebuilt plans hash equal and I.materialize hits
    instead of leaking one persist per kernel per run (r9)."""
    from go_pandas_spark.operators.distwindow import _memo_table

    t1 = _memo_table(spark, [(1, 2), (3, 4)], "a long, b long")
    t2 = _memo_table(spark, [(1, 2), (3, 4)], "a long, b long")
    assert t1 is t2
    t3 = _memo_table(spark, [(1, 2), (3, 5)], "a long, b long")
    assert t3 is not t1

    # end-to-end: rebuilding the same blocked query must not add pins
    rng = np.random.RandomState(26)
    pdf = pd.DataFrame({"k": np.arange(2_000), "v": rng.normal(0, 1, 2_000)})
    sdf = spark.createDataFrame(pdf).repartition(8)
    def build():
        f = gp.Frame(sdf).sort_values("k")
        return f.expanding().moments({"s": ("v", "skew")}).to_pandas()
    build()
    n0 = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    build()
    build()
    n1 = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert n1 == n0, ("pin cache leaked on rebuilt identical plans", n0, n1)


def test_series_window_escalates_past_literal_cap(spark):
    """r8 VERDICT missing #1: Series rolling/expanding aggregates run
    the frame-mode broadcast-table kernels over the anchor frame (the
    256-block literal engine is gone) — the composed assign() answer
    stays exactly pandas', the anchor carries the internal result
    columns, and the plan is the blocked kernel."""
    rng = np.random.RandomState(31)
    n = 4_000
    v = rng.normal(50, 4, n)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "v": v})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    s = f["v"]
    out = f.assign(
        rsum=s.rolling(5).sum().round(6),
        rvar=s.rolling(7, min_periods=3).var(),
        csum=s.expanding().sum().round(6),
        cvar=s.expanding().var(),
        ccnt=s.expanding(min_periods=4).count(),
    )
    # anchor frame was augmented in place with internal result cols
    assert any("serw" in c for c in f._sdf.columns)
    got = out.to_pandas().sort_values("k").reset_index(drop=True)
    assert np.allclose(got["rsum"], pdf["v"].rolling(5).sum().round(6),
                       rtol=1e-9, equal_nan=True)
    assert np.allclose(got["rvar"],
                       pdf["v"].rolling(7, min_periods=3).var(),
                       rtol=1e-8, atol=1e-12, equal_nan=True)
    assert np.allclose(got["csum"], pdf["v"].expanding().sum().round(6),
                       rtol=1e-9, equal_nan=True)
    assert np.allclose(got["cvar"], pdf["v"].expanding().var(),
                       rtol=1e-8, atol=1e-12, equal_nan=True)
    assert np.allclose(got["ccnt"],
                       pdf["v"].expanding(min_periods=4).count(),
                       rtol=1e-12, equal_nan=True)
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__blk__" in plan


def test_grouped_expanding_quantile_approx(spark):
    """r9 stretch (r8 VERDICT #7): grouped expanding quantile with
    approx=True splits groups above approx_threshold onto the blocked
    per-group grid engine (lower-order-statistic contract, per-group
    grids) and keeps the exact percentile window for the rest. Values
    here have ~40 distinct levels per group, so the per-group grid is
    exhaustive and the giant group's answer equals pandas
    quantile(interpolation='lower') exactly; small groups match the
    exact linear-interpolation percentile."""
    rng = np.random.RandomState(33)
    n_big, n_small = 6_000, 300
    g = np.concatenate([np.zeros(n_big, dtype=np.int64),
                        1 + (np.arange(3 * n_small) % 3)])
    v = np.concatenate([
        (rng.randint(0, 40, n_big)).astype(float),
        rng.normal(0, 5, 3 * n_small)])
    v[rng.random(len(v)) < 0.08] = np.nan
    pdf = pd.DataFrame({"k": np.arange(len(v)), "g": g, "v": v})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    out = (f.groupby("g").expanding(min_periods=2)
           .quantile(0.5, cols=["v"], approx=True, approx_threshold=1_000)
           .to_pandas().sort_values("k").reset_index(drop=True))
    got = out["v"].to_numpy()
    big_mask = (pdf["g"] == 0).to_numpy()
    exp_big = (pdf[big_mask]["v"].expanding(min_periods=2)
               .quantile(0.5, interpolation="lower").to_numpy())
    assert np.allclose(got[big_mask], exp_big, rtol=1e-12, equal_nan=True)
    exp_small = (pdf[~big_mask].groupby("g")["v"]
                 .transform(lambda s: s.expanding(min_periods=2)
                            .quantile(0.5)).to_numpy())
    assert np.allclose(got[~big_mask], exp_small, rtol=1e-9, atol=1e-12,
                       equal_nan=True)
    # all-small: pure exact path, still double
    out2 = (f.groupby("g").expanding(min_periods=2)
            .quantile(0.5, cols=["v"], approx=True)
            .to_pandas().sort_values("k").reset_index(drop=True))
    exp_all = (pdf.groupby("g")["v"]
               .transform(lambda s: s.expanding(min_periods=2).quantile(0.5))
               .to_numpy())
    assert np.allclose(out2["v"].to_numpy(), exp_all, rtol=1e-9, atol=1e-12,
                       equal_nan=True)


def test_rolling_value_layout_uncapped_table_mode(spark):
    """r9: rolling's value-derived layout (the monotonic fallback after
    a filter leaves id gaps) rides broadcast block tables above the
    literal rule — parity vs pandas at 300 blocks, including the
    boundary borrow in both directions (center=True) and the skewed
    interval path."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(41)
    n = 9_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(0, 5, n)})
    f = gp.Frame(spark.createDataFrame(base).repartition(16)).sort_values("k")
    f = f[f["v"] > -6.0]
    ref = base[base["v"] > -6.0].reset_index(drop=True)

    def build(w):
        return [("v", F.when(F.count("v").over(w) >= 3,
                             F.sum("v").over(w)))]

    out = dw.rolling_blocked(f._sdf, F.col(I.ORDER_COL), -4, 0, build,
                             n_blocks=300)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    exp = ref["v"].rolling(5, min_periods=3).sum()
    assert np.allclose(got, exp, rtol=1e-9, equal_nan=True)

    # centered window borrows BOTH directions across table-mode blocks
    def build_c(w):
        return [("v", F.avg("v").over(w))]

    out = dw.rolling_blocked(f._sdf, F.col(I.ORDER_COL), -2, 2, build_c,
                             n_blocks=300)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    exp = ref["v"].rolling(5, center=True, min_periods=1).mean()
    assert np.allclose(got, exp, rtol=1e-9, equal_nan=True)

    # window reach wider than a 300-block slice of 7.3k rows (~24 rows
    # per block): the skewed interval table (shipped as one broadcast
    # data array) handles multi-destination borrows
    out = dw.rolling_blocked(f._sdf, F.col(I.ORDER_COL), -59, 0, build_c,
                             n_blocks=300)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    exp = ref["v"].rolling(60, min_periods=1).mean()
    assert np.allclose(got, exp, rtol=1e-9, equal_nan=True)


def test_rolling_time_layout_uncapped_table_mode(spark):
    """r9: TIME-based rolling at 300 blocks — the destination
    threshold table ships as one broadcast data array."""
    rng = np.random.RandomState(42)
    n = 6_000
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.cumsum(rng.randint(1, 40, n)), unit="s")
    pdf = pd.DataFrame({"t": ts, "v": rng.normal(0, 2, n)})
    f = gp.Frame(spark.createDataFrame(pdf)).sort_values("t")
    from go_pandas_spark.operators import distwindow as dw

    order = F.unix_micros(F.col("t").cast("timestamp"))

    def build(w):
        return [("v", F.sum("v").over(w))]

    out = dw.rolling_blocked(f._sdf, order, -60_000_000 + 1, 0, build,
                             time_based=True, n_blocks=300)
    got = out.toPandas().sort_values("t")["v"].to_numpy()
    exp = pdf.set_index("t")["v"].rolling("60s").sum().to_numpy()
    assert np.allclose(got, exp, rtol=1e-9, equal_nan=True)


def test_ewm_cov_corr_fused_single_pass(spark):
    """r9: EWM.cov_corr computes both pairwise statistics in one
    blocked pass (corr's discounted sums are a superset of cov's).
    Parity vs pandas for both adjust modes, gaps and min_periods."""
    rng = np.random.RandomState(51)
    n = 1_500
    x = rng.normal(10, 3, n)
    y = rng.normal(-4, 2, n)
    x[rng.random(n) < 0.12] = np.nan
    y[rng.random(n) < 0.07] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "x": x, "y": y})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for adjust in (True, False):
        for minp in (0, 5):
            out = (f.ewm(alpha=0.25, adjust=adjust, min_periods=minp)
                   .cov_corr("x", "y", cov_col="c", corr_col="r")
                   .to_pandas().sort_values("k").reset_index(drop=True))
            pe = pdf["x"].ewm(alpha=0.25, adjust=adjust, min_periods=minp)
            assert np.allclose(out["c"], pe.cov(pdf["y"]), rtol=1e-8,
                               atol=1e-12, equal_nan=True), (adjust, minp)
            assert np.allclose(out["r"], pe.corr(pdf["y"]), rtol=1e-8,
                               atol=1e-12, equal_nan=True), (adjust, minp)
    # grouped surface still answers (two exact per-key passes)
    pdf2 = pdf.assign(g=np.arange(n) % 3)
    f2 = gp.Frame(spark.createDataFrame(pdf2).repartition(8)).sort_values("k")
    out = (f2.groupby("g").ewm(alpha=0.25).cov_corr("x", "y", "c", "r")
           .to_pandas().sort_values("k").reset_index(drop=True))
    expc = (pdf2.groupby("g", group_keys=False)
            .apply(lambda g: g["x"].ewm(alpha=0.25).cov(g["y"])).sort_index())
    assert np.allclose(out["c"], expc, rtol=1e-8, atol=1e-12, equal_nan=True)


def test_series_order_ops_escalate_past_literal_cap(spark):
    """r9 follow-through: Series cum*/rank/shift/diff run the
    frame-mode broadcast-table kernels over the anchor frame — pandas
    parity on a 16-partition frame."""
    rng = np.random.RandomState(61)
    n = 3_000
    v = rng.normal(0, 5, n)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "v": v})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    s = f["v"]
    out = f.assign(
        cs=s.cumsum(), cm=s.cummax(),
        rk=s.rank("average", pct=True),
        sh=s.shift(3), df_=s.diff(2),
    ).to_pandas().sort_values("k").reset_index(drop=True)
    assert any("serw" in c for c in f._sdf.columns)
    assert np.allclose(out["cs"], pdf["v"].cumsum(), rtol=1e-9,
                       equal_nan=True)
    assert np.allclose(out["cm"], pdf["v"].cummax(), rtol=1e-12,
                       equal_nan=True)
    assert np.allclose(out["rk"], pdf["v"].rank(pct=True), rtol=1e-12,
                       equal_nan=True)
    assert np.allclose(out["sh"], pdf["v"].shift(3), rtol=1e-12,
                       equal_nan=True)
    assert np.allclose(out["df_"], pdf["v"].diff(2), rtol=1e-9,
                       equal_nan=True)
    # fill_value rides the blocked kernel too (r10): it fills via a
    # beyond-edge probe, so data NaNs pass through while off-frame
    # positions get the fill — pandas contract
    n_serw = sum("serw" in c for c in f._sdf.columns)
    out2 = f.assign(sf=f["v"].shift(2, fill_value=-1.0)).to_pandas()
    assert sum("serw" in c for c in f._sdf.columns) > n_serw
    exp2 = pdf["v"].shift(2, fill_value=-1.0)
    assert np.allclose(out2.sort_values("k")["sf"], exp2, rtol=1e-12,
                       equal_nan=True)
    # negative periods (lead) with fill: trailing edge filled only
    out3 = f.assign(sb=f["v"].shift(-4, fill_value=7.5)).to_pandas()
    exp3 = pdf["v"].shift(-4, fill_value=7.5)
    assert np.allclose(out3.sort_values("k")["sb"], exp3, rtol=1e-12,
                       equal_nan=True)


def test_expanding_fused_stats_totals_path(spark):
    """The r9 monotonic no-subdivision layout computes block stats AND
    totals in ONE groupBy(sid) job. A sorted frame's range-partitioned
    sids are all under 1.5 chunks, so blocks ≡ sids and the fused path
    runs at the default block target; pin parity for every carry fold
    kind."""
    rng = np.random.RandomState(71)
    n = 4_000
    v = rng.normal(3, 2, n)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "v": v})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    from go_pandas_spark.operators import distwindow as dw

    out = dw.expanding_blocked(
        f._sdf, F.col(I.ORDER_COL),
        {"s": ("v", "sum"), "mn": ("v", "min"), "mx": ("v", "max"),
         "vv": ("v", "var"), "p": ("v", "prod"), "c": ("v", "count")},
        min_periods=2).toPandas().sort_values("k")
    e = pdf["v"].expanding(min_periods=2)
    assert np.allclose(out["s"], e.sum(), rtol=1e-9, equal_nan=True)
    assert np.allclose(out["mn"], e.min(), rtol=1e-12, equal_nan=True)
    assert np.allclose(out["mx"], e.max(), rtol=1e-12, equal_nan=True)
    assert np.allclose(out["vv"], e.var(), rtol=1e-9, equal_nan=True)
    assert np.allclose(out["c"], e.count(), rtol=1e-12, equal_nan=True)
    # prod compares on log scale (running product under/overflows)
    ep = pdf["v"].expanding(min_periods=2).apply(np.nanprod, raw=True)
    gl = np.log(np.abs(out["p"].to_numpy()))
    el = np.log(np.abs(ep.to_numpy()))
    m = ~np.isnan(el) & np.isfinite(el) & (np.abs(el) < 500)
    assert np.allclose(gl[m], el[m], rtol=1e-6)


def _sid_frame(spark, counts, seed=0):
    """Rows keyed by an engine-style id (sid << 33 | offset) whose sid
    ``i`` holds ``counts[i]`` rows with offsets 0..c-1, plus ``v``."""
    oc = np.concatenate([(s << 33) + np.arange(c, dtype=np.int64)
                         for s, c in enumerate(counts)])
    v = np.random.RandomState(seed).normal(0, 1, len(oc))
    return spark.createDataFrame(pd.DataFrame({I.ORDER_COL: oc, "v": v}))


def _blk_counts(sdf):
    from go_pandas_spark.operators.distwindow import BLK

    rows = sdf.groupBy(BLK).agg(F.count(F.lit(1)).alias("c"),
                                F.min(I.ORDER_COL).alias("lo"),
                                F.max(I.ORDER_COL).alias("hi")).collect()
    rows = sorted(rows, key=lambda r: r[BLK])
    assert [r[BLK] for r in rows] == list(range(len(rows)))
    # blocks are consecutive id ranges, in block order
    assert all(a["hi"] < b["lo"] for a, b in zip(rows, rows[1:]))
    return [r["c"] for r in rows]


def test_sid_layout_balanced_sids_are_blocks(spark):
    """Sids within ±49 % of the chunk (⌈rows/n⌉) are one block each:
    no sliver block beside a sid just over the chunk."""
    from go_pandas_spark.operators import distwindow as dw

    counts = [510, 1490, 1000, 1000]  # chunk = 4000 / 4 = 1000
    stats = [(s, c, 0, c - 1) for s, c in enumerate(counts)]
    out, cnts = dw._attach_sid(_sid_frame(spark, counts),
                               F.col(I.ORDER_COL), stats, 4)
    assert cnts == counts
    assert _blk_counts(out) == counts


def test_sid_layout_splits_skewed_sid_evenly(spark):
    """A sid of ~3× the mean splits into 3 near-equal blocks, none
    below ⌊c/k⌋ rows (3001 rows: 1001/1000/1000, not 1001/1001/999)."""
    from go_pandas_spark.operators import distwindow as dw

    counts = [600] * 5 + [3001]  # chunk = ⌈6001 / 6⌉ = 1001
    stats = [(s, c, 0, c - 1) for s, c in enumerate(counts)]
    out, cnts = dw._attach_sid(_sid_frame(spark, counts),
                               F.col(I.ORDER_COL), stats, 6)
    assert cnts == [600] * 5 + [1001, 1000, 1000]
    assert min(cnts[5:]) >= 3001 // 3
    assert _blk_counts(out) == cnts


def test_series_order_ops_on_skewed_sids_match_pandas(spark):
    """cumsum / cummax / rolling(5).sum() / expanding().var() over a
    16-partition input whose first sid holds half the rows (so the sid
    layout splits it) and ~10 % NaNs match pandas in frame order."""
    import math

    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(91)
    n = 4_000
    v = rng.normal(5, 2, n)
    v[rng.random(n) < 0.1] = np.nan
    k = np.arange(n)
    pdf = pd.DataFrame({"k": k, "v": v,
                        "bucket": np.where(k < n // 2, 0, 1 + k % 15)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16, "bucket"))
    stats = dw.collect_sid_layout(f._sdf, F.col(I.ORDER_COL))[0]
    chunk = math.ceil(n / dw._n_blocks(f._sdf))
    assert max(c for _s, c, *_ in stats) >= 1.5 * chunk  # a sid splits
    s = f["v"]
    out = f.assign(cs=s.cumsum(), cm=s.cummax(), rs=s.rolling(5).sum(),
                   ev=s.expanding().var()).to_pandas()
    x = out["v"]
    assert sorted(out["k"]) == list(range(n))
    assert np.allclose(out["cs"], x.cumsum(), rtol=1e-9, equal_nan=True)
    assert np.allclose(out["cm"], x.cummax(), rtol=1e-12, equal_nan=True)
    assert np.allclose(out["rs"], x.rolling(5).sum(), rtol=1e-9,
                       equal_nan=True)
    assert np.allclose(out["ev"], x.expanding().var(), rtol=1e-9,
                       equal_nan=True)


def test_expanding_balanced_sids_run_one_collect(spark):
    """Over a leaf of 4 sids within 1 % of the chunk, expanding_blocked's
    build is ONE driver collect: the fused layout+totals groupBy(sid).
    A sid one row over the chunk used to split off a sliver block and
    send the totals through a second groupBy(BLK) collect."""
    from go_pandas_spark.operators import distwindow as dw

    leaf = I.materialize(_sid_frame(spark, [1010, 990, 1000, 1000]))
    leaf.count()
    sc = spark.sparkContext
    sc.setJobGroup("expanding_one_collect", "expanding_one_collect")
    try:
        out = dw.expanding_blocked(leaf, F.col(I.ORDER_COL),
                                   {"s": ("v", "sum")}, n_blocks=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    sites = {tracker.getStageInfo(st).name
             for j in tracker.getJobIdsForGroup("expanding_one_collect")
             for st in tracker.getJobInfo(j).stageIds}
    assert len(sites) == 1 and "distwindow.py" in next(iter(sites)), sites
    exp = leaf.toPandas().sort_values(I.ORDER_COL)["v"].cumsum()
    got = out.toPandas().sort_values(I.ORDER_COL)["s"]
    assert np.allclose(got, exp, rtol=1e-9)


def test_ewm_noadjust_cov_degenerate_gap_exact_fraction_oracle(spark):
    """r10 dw-complement fix: adjust=False cov carries the unbias
    denominator as dw = 1-Σw² (cancellation-free recursion
    dw' = p²·dw + 2pq), so at the degenerate first-obs-after-gap rows
    (alpha=0.999, |mean| ≫ increments) the engine matches an EXACT
    Fraction replication of the reference recursion to 1e-12 — a bar
    pandas' own float64 kernel misses by ~2e-5 here (adjudicated
    against a 60-digit replication, COVERAGE.md r10)."""
    from fractions import Fraction as Fr

    alpha = 0.999
    x = [100.3, 99.1] + [np.nan] * 6 + [101.7, 98.2, 100.9, np.nan, 99.6]
    y = [1.5, -0.7] + [np.nan] * 6 + [2.1, -1.3, 0.4, np.nan, -2.2]
    n = len(x)

    def exact_cov():
        a = Fr(999, 1000)
        owf = 1 - a
        mean_x = mean_y = None
        cov = Fr(0)
        sum_wt = sum_wt2 = old_wt = Fr(1)
        nobs = 0
        out = []
        for i in range(n):
            cx, cy = x[i], y[i]
            is_obs = not (np.isnan(cx) or np.isnan(cy))
            if mean_x is None:
                if is_obs:
                    nobs = 1
                    mean_x, mean_y = Fr(cx), Fr(cy)
            else:
                sum_wt *= owf
                sum_wt2 *= owf * owf
                old_wt *= owf
                if is_obs:
                    nobs += 1
                    omx, omy = mean_x, mean_y
                    fx, fy = Fr(cx), Fr(cy)
                    if mean_x != fx:
                        mean_x = (old_wt * omx + a * fx) / (old_wt + a)
                    if mean_y != fy:
                        mean_y = (old_wt * omy + a * fy) / (old_wt + a)
                    cov = ((old_wt * (cov + (omx - mean_x) * (omy - mean_y)))
                           + (a * (fx - mean_x) * (fy - mean_y))) / (old_wt + a)
                    sum_wt += a
                    sum_wt2 += a * a
                    old_wt += a
                    sum_wt /= old_wt
                    sum_wt2 /= old_wt * old_wt
                    old_wt = Fr(1)
            if nobs >= 2:
                num = sum_wt * sum_wt
                den = num - sum_wt2
                out.append(float(num * cov / den) if den > 0 else np.nan)
            else:
                out.append(np.nan)
        return np.array(out)

    exp = exact_cov()
    pdf = pd.DataFrame({"rid": np.arange(n, dtype="int64"), "x": x, "y": y})
    for parts in (1, 4):
        f = gp.Frame.from_pandas(spark, pdf).repartition(parts).sort_values("rid")
        got = (f.ewm(alpha=alpha, adjust=False, ignore_na=False)
               .cov("x", "y", out_col="o").to_pandas()["o"].to_numpy())
        assert np.allclose(got, exp, rtol=1e-12, atol=1e-15, equal_nan=True)


def test_first_valid_refs_anchor_contract(spark):
    """r12 (VERDICT r11 #2): the deterministic-sample contract is
    self-enforcing — no engine ORDER_COL and no order_by= raises
    (RuntimeError since r13: assert stripped under python -O), not a
    silently order-nondeterministic sample."""
    import pytest
    from pyspark.sql import functions as F

    from go_pandas_spark.operators.distwindow import first_valid_refs

    sdf = spark.range(10).withColumn("x", F.col("id") * 1.0)
    with pytest.raises(RuntimeError, match="ORDER_COL|order_by"):
        first_valid_refs(sdf, ["x"])
    refs = first_valid_refs(sdf, ["x"], order_by=F.col("id"))
    assert refs["x"] == 0.0  # first valid by the caller's order


def test_moment_chain_repins_nothing_on_rerun(spark):
    """The anchored sample makes re-built plans hash identically, so a
    warm re-run of a blocked moments chain hits the SAME pins instead
    of leaking one per kernel per run (the r9 regression the anchor
    closed)."""
    import numpy as np
    import pandas as pd

    import go_pandas_spark as gp
    from go_pandas_spark import _internal as I

    gp.clear_cache()
    pdf = pd.DataFrame({"k": np.arange(300.0),
                        "v": np.random.RandomState(9).normal(1e6, 1, 300)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(4)).sort_values("k")
    first = f.expanding(min_periods=2).var().to_pandas()
    n_pins = len(I._PINNED)
    again = f.expanding(min_periods=2).var().to_pandas()
    assert len(I._PINNED) == n_pins  # no re-pin on the warm re-run
    np.testing.assert_allclose(first["v"].to_numpy()[2:],
                               again["v"].to_numpy()[2:], rtol=1e-12)
    gp.clear_cache()


# ----------------------------------------------------------------- #
# r13: aligned zero-shuffle two-pass layout                          #
# ----------------------------------------------------------------- #

def test_aligned_two_pass_zero_shuffle(spark):
    """r13: when every sid lives wholly in one physical partition of
    the pinned relation (collect_sid_layout aligned=True), the five
    summarize/evaluate kernels run both passes as mapInPandas with
    ZERO exchanges — and match pandas exactly. A filtered frame
    (offset gaps) must fall back and stay correct."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(23)
    n = 8_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(4, 3, n),
                         "w": rng.normal(-1, 2, n)})
    base.loc[rng.rand(n) < 0.15, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(base).repartition(8)).sort_values("k")
    sdf = f._sdf
    oc = F.col(I.ORDER_COL)

    stats, aligned = dw.collect_sid_layout(sdf, oc)
    assert aligned and stats is not None and len(stats) >= 2

    def run(kernel, col, exp, **kw):
        out = kernel(sdf, oc, **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the fixture's own repartition/sort exchanges sit BELOW the
        # pinned relation; the kernel itself must add none above its
        # MapInPandas evaluate pass
        assert "MapInPandas" in plan, f"{kernel.__name__} not aligned"
        above = plan.split("MapInPandas")[0]
        assert "Exchange" not in above, f"{kernel.__name__} kept a shuffle"
        got = out.toPandas().sort_values("k")[col].to_numpy()
        assert np.allclose(got, exp, rtol=1e-7, atol=1e-10, equal_nan=True)

    run(dw.ewm_mean_blocked, "v", base["v"].ewm(alpha=0.2).mean(),
        cols=["v"], alpha=0.2, adjust=True, ignore_na=False)
    run(dw.ewm_var_blocked, "v", base["v"].ewm(alpha=0.2).var(),
        cols=["v"], alpha=0.2, ignore_na=False)
    run(dw.ewm_noadjust_blocked, "v",
        base["v"].ewm(alpha=0.2, adjust=False).var(),
        specs=[("var", "v", "v")], alpha=0.2, ignore_na=False)
    run(dw.ewm_pairwise_adjust_blocked, "o",
        base["v"].ewm(alpha=0.2).corr(base["w"]),
        col_x="v", col_y="w", out_col="o", alpha=0.2, ignore_na=False,
        corr=True)

    # approx expanding median through the aligned path: error stays
    # within ~one grid cell of the exact expanding median
    out = dw.expanding_quantile_approx_blocked(sdf, oc, ["v"], 0.5,
                                               min_periods=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan.split("MapInPandas")[0]
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    exact = base["v"].expanding(min_periods=3).median().to_numpy()
    ok = np.isfinite(exact[-200:])
    assert np.nanmax(np.abs(got[-200:][ok] - exact[-200:][ok])
                     / np.maximum(np.abs(exact[-200:][ok]), 1e-9)) < 0.05

    # fallback: a filter leaves offset gaps -> stats None, kernels keep
    # the shuffled layouts and stay correct
    fm = f[f["w"] > -1.0]
    stats2, aligned2 = dw.collect_sid_layout(fm._sdf, oc)
    assert stats2 is None and not aligned2
    got = (dw.ewm_mean_blocked(fm._sdf, oc, ["v"], alpha=0.3, adjust=True,
                               ignore_na=False)
           .toPandas().sort_values("k")["v"].to_numpy())
    exp = (base[base["w"] > -1.0]
           .sort_values("k")["v"].ewm(alpha=0.3).mean().to_numpy())
    assert np.allclose(got, exp, rtol=1e-8, equal_nan=True)


def test_literal_carry_array_special_values(spark):
    """r13: small numeric carry tables embed as parsed array literals —
    NULL/NaN/±Infinity/-0.0/denormals and int64 extremes must
    round-trip the parse exactly (the fold replays Spark semantics on
    the driver, so a lossy literal would silently corrupt carries)."""
    import math

    from go_pandas_spark.operators.distwindow import _lit_array

    vals = [None, float("nan"), float("inf"), float("-inf"), -0.0, 0.0,
            1.7976931348623157e308, 5e-324, 123.456, -1.1]
    got = spark.range(1).select(
        _lit_array(vals, "double").alias("a")).first()["a"]
    assert got[0] is None
    assert math.isnan(got[1])
    assert got[2] == float("inf") and got[3] == float("-inf")
    assert got[4] == 0.0 and math.copysign(1.0, got[4]) < 0  # -0.0 kept
    assert got[5] == 0.0 and math.copysign(1.0, got[5]) > 0
    assert got[6] == 1.7976931348623157e308 and got[7] == 5e-324
    assert got[8] == 123.456 and got[9] == -1.1

    ints = [None, -(2 ** 63), 2 ** 63 - 1, 0, 42]
    got = spark.range(1).select(
        _lit_array(ints, "bigint").alias("a")).first()["a"]
    assert got[0] is None and got[1] == -(2 ** 63)
    assert got[2] == 2 ** 63 - 1 and got[3] == 0 and got[4] == 42


def test_carry_literal_and_join_fallback_agree(spark):
    """r13: carries attach as foldable literals on small layouts and
    as the broadcast join on large ones — both paths must produce
    the single-partition pandas answer (offset 1e8 keeps the centered
    /fold arithmetic honest), for the expanding carries AND the
    running-pick fast-path carries."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(23)
    n = 6_000
    base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(1e8, 3, n)})
    base.loc[rng.rand(n) < 0.15, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(base).repartition(16)).sort_values("k")
    sdf = f._sdf
    oc = F.col(I.ORDER_COL)
    exp_sum = base["v"].expanding().sum()
    exp_ff = base["v"].ffill()
    for nb in (32, 700):  # literal path / join fallback
        out = dw.expanding_blocked(sdf, oc, {"v": ("v", "sum")}, n_blocks=nb)
        got = out.toPandas().sort_values("k")["v"].to_numpy()
        assert np.allclose(got, exp_sum, rtol=1e-9, equal_nan=True), nb
        out = dw.running_pick_blocked(sdf, [oc.asc()], ["v"], back=True,
                                      prefix="p_", block_key=oc,
                                      n_blocks=nb, carry_order=oc)
        got = out.toPandas().sort_values("k")["p_v"].to_numpy()
        assert np.allclose(got, exp_ff, rtol=1e-12, equal_nan=True), nb


def test_non_numeric_carry_keeps_join_path(spark):
    """r13: non-numeric min/max carries (timestamps here) cannot embed
    as numeric literals — the guard must route them to the broadcast
    join and stay correct (raw expanding_blocked has prefix-min
    semantics; the pandas cummin null mask is cumagg's job)."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(5)
    n = 2_000
    ts = pd.DataFrame({
        "k": np.arange(n),
        "t": (pd.to_datetime("2023-01-01")
              + pd.to_timedelta(rng.randint(0, 10 ** 6, n), unit="s"))})
    ts.loc[rng.rand(n) < 0.1, "t"] = pd.NaT
    f = gp.Frame(spark.createDataFrame(ts).repartition(8)).sort_values("k")
    out = dw.expanding_blocked(f._sdf, F.col(I.ORDER_COL),
                               {"tm": ("t", "min")}, n_blocks=16)
    got = out.toPandas().sort_values("k")["tm"].reset_index(drop=True)
    exp = ts["t"].cummin().ffill()  # prefix min at every row
    eq = (got == exp) | (got.isna() & exp.isna())
    assert bool(eq.all())


def test_broadcast_table_is_local_relation(spark, monkeypatch):
    """A table above the literal rule broadcasts a JVM LocalTableScan,
    not a Python-RDD scan: its broadcast job runs no Python worker, and
    the action runs at most that one job more than the literal form.
    Values (NULL, NaN, -0.0, int64 extremes, a struct key) match."""
    from go_pandas_spark.operators import distwindow as dw

    sdf = spark.range(64).withColumn("k", F.col("id") % 9)  # 8: no slot
    vals = [None, float("nan"), -0.0, 1.5, -2.25, 1e300, 7.0, 8.0]
    ints = [-(2 ** 63), 2 ** 63 - 1, 0, None, 5, 6, 7, 8]
    cols = {"d": (vals, "double"), "i": (ints, "bigint")}
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def run(tag):
        out = dw._attach_table(sdf, F.col("k"), cols).orderBy("id")
        sc.setJobGroup(tag, tag)
        try:
            rows = out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        plan = out._jdf.queryExecution().executedPlan().toString()
        return rows, len(tracker.getJobIdsForGroup(tag)), plan

    lit, lit_jobs, lit_plan = run("attach_lit")
    assert "Broadcast" not in lit_plan
    monkeypatch.setattr(dw, "_ATTACH_LIT_SLOTS", 0)
    dw._LOCAL_TBLS.clear()
    bc, bc_jobs, bc_plan = run("attach_bcast")
    assert "BroadcastExchange" in bc_plan and "LocalTableScan" in bc_plan
    assert "ExistingRDD" not in bc_plan
    assert bc_jobs <= lit_jobs + 1
    tbl = next(iter(dw._LOCAL_TBLS.values()))
    assert "PythonRDD" not in tbl._jdf.queryExecution().toRdd().toDebugString()
    assert repr(bc) == repr(lit)
    import math
    assert math.copysign(1.0, bc[2]["d"]) < 0  # k == 2: -0.0 kept

    # a struct key (group keys) rides the same LocalRelation
    skey = [(i, f"g{i}") for i in range(8)]
    keyed = sdf.withColumn("sk", F.struct(
        F.col("k").alias("a"), F.concat(F.lit("g"), F.col("k")).alias("b")))
    out = dw._attach_table(keyed, F.col("sk"), {"d": (vals, "double")},
                           slots=skey).orderBy("id").collect()
    assert [repr(r["d"]) for r in out] == [repr(r["d"]) for r in lit]


def _nan_series_frame(spark, seed: int, n: int = 3_000):
    """16-partition frame with ~10 % NaNs in ``v`` (order key ``k``)."""
    rng = np.random.RandomState(seed)
    v = rng.normal(10, 3, n)
    v[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "v": v})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    return f, pdf


def test_series_autocorr_matches_pandas_multi_partition(spark):
    """autocorr shifts the Series, which rebinds the anchor's plan; the
    correlation must read the rebound plan, not the one bound before
    the shift."""
    f, pdf = _nan_series_frame(spark, 71)
    for lag in (1, 3):
        got = f["v"].autocorr(lag)
        assert np.isclose(got, pdf["v"].autocorr(lag), rtol=1e-9), lag


def test_series_shift_far_periods_and_fill_match_pandas(spark):
    """|periods| far beyond a block (and half the frame) rides the
    blocked borrow like any shift — no single-task global window —
    and fill_value fills only the beyond-edge positions."""
    f, pdf = _nan_series_frame(spark, 72)
    s = f["v"]
    out = f.assign(a=s.shift(1500), b=s.shift(-1500),
                   c=s.shift(3, fill_value=-7.0))
    plan = out._sdf._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__order__" not in plan
    got = out.to_pandas().sort_values("k").reset_index(drop=True)
    p = pdf["v"]
    assert np.allclose(got["a"], p.shift(1500), equal_nan=True)
    assert np.allclose(got["b"], p.shift(-1500), equal_nan=True)
    assert np.allclose(got["c"], p.shift(3, fill_value=-7.0), equal_nan=True)


def test_series_cumprod_int_and_float_match_pandas(spark):
    """Series.cumprod on expanding_blocked's prod kind: integer input
    rounds back to int64; float input with zeros, negatives and NaNs
    keeps pandas' skipna mask and sign/zero parity across blocks."""
    rng = np.random.RandomState(73)
    n = 3_000
    iv = rng.choice([-1, 1], n)
    iv[rng.choice(n, 30, replace=False)] = 2  # |prod| ≤ 2^30: exact
    fv = rng.choice([-1.5, -0.9, 0.8, 1.1, 1.05], n)
    fv[2_100] = 0.0
    fv[rng.random(n) < 0.1] = np.nan
    pdf = pd.DataFrame({"k": np.arange(n), "i": iv, "x": fv})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    got = (f.assign(ci=f["i"].cumprod(), cx=f["x"].cumprod())
           .to_pandas().sort_values("k").reset_index(drop=True))
    assert got["ci"].dtype == np.int64
    assert (got["ci"].to_numpy() == pdf["i"].cumprod().to_numpy()).all()
    assert np.allclose(got["cx"], pdf["x"].cumprod(), rtol=1e-9,
                       atol=0.0, equal_nan=True)


def test_series_expanding_var_std_ddof0_match_pandas(spark):
    """ddof≠1 expanding var/std derive from expanding_blocked's ddof=1
    variance and running count (a single observation has variance 0
    at ddof=0)."""
    f, pdf = _nan_series_frame(spark, 74)
    s, p = f["v"], pdf["v"]
    got = (f.assign(v0=s.expanding().var(ddof=0),
                    s0=s.expanding().std(ddof=0),
                    v0m=s.expanding(min_periods=5).var(ddof=0),
                    s2=s.expanding(min_periods=0).std(ddof=2))
           .to_pandas().sort_values("k").reset_index(drop=True))
    for c, e in (("v0", p.expanding().var(ddof=0)),
                 ("s0", p.expanding().std(ddof=0)),
                 ("v0m", p.expanding(min_periods=5).var(ddof=0)),
                 ("s2", p.expanding(min_periods=0).std(ddof=2))):
        assert np.allclose(got[c], e, rtol=1e-9, atol=1e-12,
                           equal_nan=True), c


def test_series_rolling_center_matches_pandas(spark):
    """Centered Series.rolling (odd and even windows) borrows rows from
    both neighbouring blocks."""
    f, pdf = _nan_series_frame(spark, 75)
    s, p = f["v"], pdf["v"]
    got = (f.assign(a=s.rolling(5, center=True).sum(),
                    b=s.rolling(6, center=True, min_periods=2).mean(),
                    c=s.rolling(7, center=True, min_periods=3).var(),
                    d=s.rolling(4, center=True).count())
           .to_pandas().sort_values("k").reset_index(drop=True))
    for c, e in (("a", p.rolling(5, center=True).sum()),
                 ("b", p.rolling(6, center=True, min_periods=2).mean()),
                 ("c", p.rolling(7, center=True, min_periods=3).var()),
                 ("d", p.rolling(4, center=True).count())):
        assert np.allclose(got[c], e, rtol=1e-9, atol=1e-12,
                           equal_nan=True), c


def test_series_rank_na_options_match_pandas(spark):
    """Series.rank on rank_blocked for every na_option, with ties."""
    f, pdf = _nan_series_frame(spark, 76)
    pdf["v"] = pdf["v"].round(0)  # ties
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    s, p = f["v"], pdf["v"]
    cases = [(m, na, asc, pct) for na in ("keep", "top", "bottom")
             for m, asc, pct in (("average", True, False),
                                 ("min", False, False),
                                 ("dense", True, True))]
    got = (f.assign(**{f"r{i}": s.rank(method=m, ascending=asc, pct=pct,
                                       na_option=na)
                       for i, (m, na, asc, pct) in enumerate(cases)})
           .to_pandas().sort_values("k").reset_index(drop=True))
    for i, (m, na, asc, pct) in enumerate(cases):
        e = p.rank(method=m, ascending=asc, pct=pct, na_option=na)
        assert np.allclose(got[f"r{i}"], e, rtol=1e-12,
                           equal_nan=True), (m, na, asc, pct)


def test_series_op_chain_on_one_anchor_pins_once(spark):
    """Later ops on one anchor read the ids the first op's kernel froze
    (I.ids_frozen) instead of pinning the grown plan again: a pin per
    op nests cached plans, whose printed form doubles per level (a
    ten-op chain ran the driver out of heap)."""
    f, pdf = _nan_series_frame(spark, 77, n=2_000)
    s, p = f["v"], pdf["v"]
    pins0 = len(I._PINNED)
    cols = {f"c{i}": s.cumsum() if i % 2 == 0 else s.shift(i)
            for i in range(10)}
    assert len(I._PINNED) - pins0 <= 1
    got = (f.assign(**cols).to_pandas().sort_values("k")
           .reset_index(drop=True))
    for i in range(10):
        e = p.cumsum() if i % 2 == 0 else p.shift(i)
        assert np.allclose(got[f"c{i}"], e, rtol=1e-9, equal_nan=True), i
