"""Pandas-differential tests: semantics SQL can't express are checked
against real pandas on the same rows (FIXTURES.md oracle protocol —
ewm variants, merge_asof matrix, rank methods, rolling center,
interpolate, cumprod, Python-sign arithmetic)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import go_pandas_spark as gp


def _events(spark, sf_dir):
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    return ev.sort_values(["user_id", "ts", "event_id"])


def _events_pdf(frame):
    return frame.to_pandas()


@pytest.mark.parametrize("adjust,ignore_na,alpha", [
    (True, False, 0.3), (False, False, 0.3), (True, True, 0.5), (False, True, 0.7),
])
def test_ewm_variants_match_pandas(spark, sf_dir, adjust, ignore_na, alpha):
    ev = _events(spark, sf_dir)
    # inject NaNs to exercise ignore_na
    ev = ev.assign(v=ev["value"].mask(ev["event_type"] == "error"))
    got = ev.groupby("user_id").ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na).mean(
        cols=["v"]).to_pandas()
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id")["v"].transform(
        lambda s: s.ewm(alpha=alpha, adjust=adjust, ignore_na=ignore_na).mean())
    got = got.sort_values("event_id")["v"].to_numpy()
    exp = pdf.assign(e=exp).sort_values("event_id")["e"].to_numpy()
    assert np.allclose(got, exp, equal_nan=True)


@pytest.mark.parametrize("direction,tolerance,allow_exact", [
    ("backward", None, True), ("backward", None, False),
    ("backward", "2h", True), ("forward", None, True),
    ("forward", "1h", False), ("nearest", None, True), ("nearest", "30min", False),
])
def test_merge_asof_matrix_matches_pandas(spark, sf_dir, direction, tolerance, allow_exact):
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    left = ev[ev["event_type"] == "click"][["ts", "user_id", "event_id"]].sort_values("ts")
    right = ev[ev["event_type"] == "purchase"][["ts", "user_id", "value"]].rename(
        {"value": "pv"}).sort_values("ts")
    got = gp.merge_asof(left, right, on="ts", by="user_id", direction=direction,
                        tolerance=tolerance, allow_exact_matches=allow_exact).to_pandas()
    lp = left.to_pandas().sort_values("ts").reset_index(drop=True)
    rp = right.to_pandas().sort_values("ts").reset_index(drop=True)
    tol = pd.Timedelta(tolerance) if tolerance else None
    exp = pd.merge_asof(lp, rp, on="ts", by="user_id", direction=direction,
                        tolerance=tol, allow_exact_matches=allow_exact)
    g = got.sort_values("event_id")["pv"].to_numpy()
    e = exp.sort_values("event_id")["pv"].to_numpy()
    assert np.allclose(g, e, equal_nan=True)


def _rank_rows(spark, seed: int = 3, n: int = 640):
    """Rank fixture over 16 range partitions in ``id`` order: a 3-value
    key with null keys, a 1-value key, heavy ties incl. -0.0/0.0, NaNs."""
    rng = np.random.RandomState(seed)
    v = rng.randint(-3, 4, n).astype(float)
    v[(v == 0) & (rng.rand(n) < 0.5)] = -0.0
    v[rng.rand(n) < 0.1] = np.nan
    w = rng.randint(0, 5, n).astype(float)
    w[rng.rand(n) < 0.1] = np.nan
    k3 = rng.choice(["a", "b", "c"], n).astype(object)
    k3[rng.rand(n) < 0.05] = None
    pdf = pd.DataFrame({"id": np.arange(n), "k3": k3, "k1": "x", "v": v, "w": w})
    sdf = (spark.createDataFrame(pdf).repartitionByRange(16, "id")
           .sortWithinPartitions("id"))
    return gp.Frame(sdf), pdf


_RANK_METHODS = ["average", "min", "max", "dense", "first"]


@pytest.mark.parametrize("method,case", [
    *[pytest.param(m, "lineitem", id=m) for m in _RANK_METHODS],
    *[pytest.param(m, c, id=f"{m}-{c}") for c in ("nullkeys", "desc-1key", "frame2")
      for m in _RANK_METHODS],
])
def test_rank_methods_match_pandas(spark, sf_dir, method, case):
    if case == "lineitem":
        li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet").sort_values(
            ["l_orderkey", "l_linenumber"])
        got = li.assign(r=li.groupby("l_returnflag")["l_quantity"].rank(method)).to_pandas()
        pdf = li.to_pandas()
        exp = pdf.groupby("l_returnflag")["l_quantity"].rank(method=method)
        assert np.allclose(got["r"].to_numpy(), exp.to_numpy(), equal_nan=True)
        return
    f, pdf = _rank_rows(spark)
    if case == "nullkeys":  # null keys dropped, then kept as a group
        got = f.assign(
            a=f.groupby("k3")["v"].rank(method),
            b=f.groupby("k3", dropna=False)["v"].rank(method)).to_pandas()
        exp = {"a": pdf.groupby("k3")["v"].rank(method=method),
               "b": pdf.groupby("k3", dropna=False)["v"].rank(method=method)}
    elif case == "desc-1key":
        got = f.assign(a=f.groupby("k1")["v"].rank(method, ascending=False),
                       b=f.groupby("k3")["w"].rank(method, ascending=False)).to_pandas()
        exp = {"a": pdf.groupby("k1")["v"].rank(method=method, ascending=False),
               "b": pdf.groupby("k3")["w"].rank(method=method, ascending=False)}
    else:  # frame-level GroupBy.rank over two columns
        got = f.groupby("k3")[["v", "w"]].rank(method).to_pandas()
        exp = pdf.groupby("k3")[["v", "w"]].rank(method=method)
    for c in ("a", "b") if case != "frame2" else ("v", "w"):
        assert np.allclose(got[c].to_numpy(), exp[c].to_numpy(), equal_nan=True), c


def _plan_nodes(plan) -> list[str]:
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        out.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_grouped_ranks_share_one_tie_join(spark):
    """Six ranks of one (keys, value) on one anchor read ONE tie table:
    one aggregate and one join in the plan, not one per rank."""
    f, pdf = _rank_rows(spark)
    g = f.groupby("k3")["v"]
    out = f.assign(r_avg=g.rank("average"), r_min=g.rank("min"),
                   r_max=g.rank("max"), r_dense=g.rank("dense"),
                   r_first=g.rank("first"), r_pct=g.rank("average", pct=True))
    nodes = _plan_nodes(out.to_spark()._jdf.queryExecution().optimizedPlan())
    assert nodes.count("Join") == 1, nodes
    assert nodes.count("Aggregate") == 1, nodes
    got = out.to_pandas()
    pg = pdf.groupby("k3")["v"]
    for c, m, pct in (("r_avg", "average", False), ("r_min", "min", False),
                      ("r_max", "max", False), ("r_dense", "dense", False),
                      ("r_first", "first", False), ("r_pct", "average", True)):
        assert np.allclose(got[c].to_numpy(), pg.rank(method=m, pct=pct).to_numpy(),
                           equal_nan=True), c


def test_grouped_rank_after_in_place_replace_is_fresh(spark):
    """The shared tie table is keyed on the RESOLVED value column: a
    value replaced in place under the same name gets a fresh table."""
    f, pdf = _rank_rows(spark)
    before = f.groupby("k3")["v"].rank("min")
    f["v"] = -f["v"] * 2.0 + f["w"]
    after = f.groupby("k3")["v"].rank("min")
    got = f.assign(before=before, after=after).to_pandas()
    exp_before = pdf.groupby("k3")["v"].rank(method="min")
    pdf["v"] = -pdf["v"] * 2.0 + pdf["w"]
    exp_after = pdf.groupby("k3")["v"].rank(method="min")
    assert np.allclose(got["before"].to_numpy(), exp_before.to_numpy(), equal_nan=True)
    assert np.allclose(got["after"].to_numpy(), exp_after.to_numpy(), equal_nan=True)


def test_rolling_center_matches_pandas(spark, sf_dir):
    ev = _events(spark, sf_dir)
    got = ev.assign(m=ev.groupby("user_id")["value"].rolling(5, center=True).mean()).to_pandas()
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id")["value"].transform(
        lambda s: s.rolling(5, center=True).mean())
    assert np.allclose(got.sort_values("event_id")["m"].to_numpy(),
                       pdf.assign(e=exp).sort_values("event_id")["e"].to_numpy(),
                       equal_nan=True)


def test_interpolate_matches_pandas(spark, sf_dir):
    from go_pandas_spark.operators.missing import interpolate

    ev = _events(spark, sf_dir)
    ev = ev.assign(v=ev["value"].mask(ev["event_type"].isin(["error", "view"])))
    got = interpolate(ev, subset=["v"], partition_by=["user_id"]).to_pandas()
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id")["v"].transform(lambda s: s.interpolate(method="linear"))
    assert np.allclose(got.sort_values("event_id")["v"].to_numpy(),
                       pdf.assign(e=exp).sort_values("event_id")["e"].to_numpy(),
                       equal_nan=True)


def test_cumprod_sign_zero_handling(spark):
    pdf = pd.DataFrame({"x": [2.0, -3.0, 1.5, 0.0, -2.0, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.assign(c=f["x"].cumprod()).to_pandas()["c"].to_numpy()
    exp = pdf["x"].cumprod().to_numpy()
    assert np.allclose(got, exp)


def test_python_sign_floordiv_mod(spark):
    pdf = pd.DataFrame({"x": [-7, -1, 0, 1, 7, -8]})
    f = gp.Frame.from_pandas(spark, pdf)
    out = f.assign(d=f["x"].floordiv_py(3), m=f["x"].mod_py(3)).to_pandas()
    assert list(out["d"]) == list(pdf["x"] // 3)
    assert list(out["m"]) == list(pdf["x"] % 3)


def test_fillna_limit_matches_pandas(spark, sf_dir):
    from go_pandas_spark.operators.missing import fillna

    ev = _events(spark, sf_dir)
    ev = ev.assign(v=ev["value"].mask(ev["event_type"].isin(["error", "view"])))
    got = fillna(ev, method="ffill", subset=["v"], limit=2,
                 partition_by=["user_id"]).to_pandas()
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id")["v"].transform(lambda s: s.ffill(limit=2))
    assert np.allclose(got.sort_values("event_id")["v"].to_numpy(),
                       pdf.assign(e=exp).sort_values("event_id")["e"].to_numpy(),
                       equal_nan=True)


def test_skew_kurt_bias_correction_matches_pandas(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    got_skew = li["l_quantity"].skew()
    got_kurt = li["l_quantity"].kurt()
    pdf = li[["l_quantity"]].to_pandas()
    assert abs(got_skew - pdf["l_quantity"].skew()) < 1e-9
    assert abs(got_kurt - pdf["l_quantity"].kurt()) < 1e-9


def test_quantile_interpolation_matches_pandas(spark, sf_dir):
    od = gp.read_parquet(spark, f"{sf_dir}/orders.parquet")
    for q in (0.25, 0.5, 0.9):
        got = od["o_totalprice"].quantile(q)
        exp = od[["o_totalprice"]].to_pandas()["o_totalprice"].quantile(q)
        assert abs(got - exp) < 1e-6


def test_interpolate_limit_matches_pandas(spark, sf_dir):
    from go_pandas_spark.operators.missing import interpolate

    ev = _events(spark, sf_dir)
    ev = ev.assign(v=ev["value"].mask(ev["event_type"].isin(["error", "view"])))
    got = interpolate(ev, subset=["v"], partition_by=["user_id"], limit=2).to_pandas()
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id")["v"].transform(
        lambda s: s.interpolate(method="linear", limit=2))
    assert np.allclose(got.sort_values("event_id")["v"].to_numpy(),
                       pdf.assign(e=exp).sort_values("event_id")["e"].to_numpy(),
                       equal_nan=True)


def test_interpolate_index_matches_pandas(spark):
    pdf = pd.DataFrame({"pos": [0.0, 1.0, 10.0, 11.0, 20.0],
                        "v": [1.0, np.nan, np.nan, np.nan, 21.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.interpolate(method="index", subset=["v"], on="pos").to_pandas()["v"].to_numpy()
    exp = pdf.set_index("pos")["v"].interpolate(method="index").to_numpy()
    assert np.allclose(got, exp)


def test_interpolate_nearest():
    from go_pandas_spark import get_spark
    from go_pandas_spark.operators.missing import interpolate

    spark = get_spark("tests")
    pdf = pd.DataFrame({"v": [1.0, np.nan, np.nan, np.nan, 4.0, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = interpolate(f, method="nearest", subset=["v"]).to_pandas()["v"].tolist()
    # positions 2,3,4: nearer→prev, tie→prev (scipy half-down), nearer→next;
    # trailing NaN clamps to last valid
    assert got == [1.0, 1.0, 1.0, 4.0, 4.0, 4.0]


def test_qcut_duplicates_drop(spark):
    from go_pandas_spark.operators.reshape import qcut

    pdf = pd.DataFrame({"x": [0.0] * 50 + [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    with pytest.raises(ValueError, match="duplicates='drop'"):
        qcut(f, "x", 4)
    out = qcut(f, "x", 4, duplicates="drop").to_pandas()
    exp = pd.qcut(pdf["x"], 4, duplicates="drop")
    got_counts = sorted(out["x_bin"].value_counts().tolist())
    exp_counts = sorted(exp.value_counts().tolist())
    assert got_counts == exp_counts


@pytest.mark.parametrize("n", [3, 1, 0, -1, -4])
def test_custom_business_day_matches_pandas(spark, n):
    holidays = ["1996-01-15", "1996-02-19", "1996-03-01"]
    dates = pd.to_datetime([
        "1996-01-12",  # Friday before a Monday holiday
        "1996-01-15",  # the holiday itself
        "1996-01-20",  # Saturday
        "1996-02-16",  # Friday before another Monday holiday
        "1996-02-29",  # day before a Friday holiday
        "1996-03-06",  # plain Wednesday
    ])
    pdf = pd.DataFrame({"d": dates})
    f = gp.Frame.from_pandas(spark, pdf)
    got = gp.custom_business_day_add(f, "d", n, holidays=holidays, new_col="r")
    got = got.to_pandas()["r"].tolist()
    cbd = pd.offsets.CustomBusinessDay(n=n, holidays=holidays) if n != 0 \
        else pd.offsets.CustomBusinessDay(holidays=holidays)
    # engine returns timestamps — same dtype pandas offset arithmetic keeps
    if n == 0:
        exp = [cbd.rollforward(t) for t in dates]
    else:
        exp = [t + cbd for t in dates]
    assert [pd.Timestamp(g) for g in got] == exp


def test_frame_apply_rowwise_matches_pandas(spark):
    from go_pandas_spark.suite.extras import _integrate_f

    pdf = pd.DataFrame({"a": [0.1, -0.5, 0.3], "b": [0.9, 0.2, 1.4], "n": [100, 57, 333]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.assign(r=f.apply(_integrate_f)).to_pandas()["r"].to_numpy()
    exp = pdf.apply(_integrate_f, axis=1).to_numpy()
    # same Python arithmetic in the same per-row order -> bitwise equal
    assert (got == exp).all()


def test_rolling_cov_corr_match_pandas(spark, sf_dir):
    ev = _events(spark, sf_dir)
    ev = ev.assign(v2=ev["value"].shift(1))
    r = ev.groupby("user_id").rolling(6, min_periods=3)
    got = ev.assign(rc=r.cov("value", "v2"), rr=r.corr("value", "v2")).to_pandas()
    pdf = _events_pdf(ev)

    def per_group(g, how):
        return getattr(g["value"].rolling(6, min_periods=3), how)(g["v2"])

    exp_c = pdf.groupby("user_id", group_keys=False).apply(lambda g: per_group(g, "cov"))
    exp_r = pdf.groupby("user_id", group_keys=False).apply(lambda g: per_group(g, "corr"))
    got = got.sort_values("event_id")
    pdf = pdf.assign(ec=exp_c, er=exp_r).sort_values("event_id")
    assert np.allclose(got["rc"].to_numpy(), pdf["ec"].to_numpy(), equal_nan=True)
    assert np.allclose(got["rr"].to_numpy(), pdf["er"].to_numpy(), equal_nan=True)


def test_ewm_cov_corr_match_pandas(spark, sf_dir):
    ev = _events(spark, sf_dir)
    ev = ev.assign(v2=ev["value"].shift(1))
    got = (ev.groupby("user_id").ewm(alpha=0.4).cov("value", "v2", out_col="ec")
           .to_pandas().sort_values("event_id"))
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id", group_keys=False).apply(
        lambda g: g["value"].ewm(alpha=0.4).cov(g["v2"]))
    pdf = pdf.assign(e=exp).sort_values("event_id")
    assert np.allclose(got["ec"].to_numpy(), pdf["e"].to_numpy(), equal_nan=True)


def test_frame_dot_matches_pandas(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0], "y": [0.5, -1.0, 2.0]})
    proj = pd.DataFrame({"p": [2.0, 1.0], "q": [0.0, -3.0]}, index=["x", "y"])
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.dot(proj).to_pandas()
    exp = pdf.dot(proj)
    assert np.allclose(got[["p", "q"]].to_numpy(), exp.to_numpy())


def test_flex_arith_fill_value_matches_pandas(spark):
    pdf = pd.DataFrame({"x": [1.0, np.nan, 3.0, np.nan], "y": [10.0, 20.0, np.nan, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.assign(s=f["x"].add(f["y"], fill_value=0.0),
                   m=f["x"].mul(f["y"], fill_value=1.0),
                   d=f["x"].rsub(f["y"], fill_value=2.0)).to_pandas()
    exp_s = pdf["x"].add(pdf["y"], fill_value=0.0)
    exp_m = pdf["x"].mul(pdf["y"], fill_value=1.0)
    exp_d = pdf["x"].rsub(pdf["y"], fill_value=2.0)
    assert np.allclose(got["s"].to_numpy(), exp_s.to_numpy(), equal_nan=True)
    assert np.allclose(got["m"].to_numpy(), exp_m.to_numpy(), equal_nan=True)
    assert np.allclose(got["d"].to_numpy(), exp_d.to_numpy(), equal_nan=True)


def test_to_period_matches_pandas(spark):
    dates = pd.to_datetime(["1996-01-15", "1997-06-30", "2000-12-31", "2001-03-01"])
    pdf = pd.DataFrame({"d": dates})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.assign(m=f["d"].dt.to_period("M"),
                   q=f["d"].dt.to_period("Q"),
                   y=f["d"].dt.to_period("Y")).to_pandas()
    assert list(got["m"]) == [str(p) for p in pdf["d"].dt.to_period("M")]
    assert list(got["q"]) == [str(p) for p in pdf["d"].dt.to_period("Q")]
    assert list(got["y"]) == [str(p) for p in pdf["d"].dt.to_period("Y")]


def test_pivot_table_multi_values_multiindex_columns(spark, sf_dir):
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    ev = ev.assign(vlen=ev["props"].str.len().astype("double"))
    from go_pandas_spark.operators.reshape import pivot_table

    got = pivot_table(ev, values=["value", "vlen"], index="user_id",
                      columns="event_type", aggfunc="mean").to_pandas()
    pdf = ev.to_pandas()
    exp = pdf.pivot_table(values=["value", "vlen"], index="user_id",
                          columns="event_type", aggfunc="mean")
    assert isinstance(got.columns, pd.MultiIndex)
    got = got.sort_index()[exp.columns]
    assert np.allclose(got.to_numpy(), exp.sort_index().to_numpy(), equal_nan=True)


def test_unstack_stack_multi_roundtrip(spark, sf_dir):
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    ev = ev.assign(vlen=ev["props"].str.len().astype("double"))
    from go_pandas_spark.operators.reshape import stack_multi, unstack

    agg = ev.groupby(["user_id", "event_type"], as_index=False).agg(
        value=("value", "mean"), vlen=("vlen", "mean"))
    wide = unstack(agg, "event_type", ["value", "vlen"], "user_id")
    assert isinstance(wide.to_pandas().columns, pd.MultiIndex)
    # tuple selection + partial selection
    s = wide[("value", "click")]
    assert s.count() > 0
    sub = wide["value"]
    assert sorted(sub.columns) == sorted(ev.to_pandas()["event_type"].unique())
    # stack back: the inner level returns to rows
    back = stack_multi(wide.reset_index(), var_name="event_type").to_pandas()
    exp = agg.to_pandas()
    m = back.merge(exp, on=["user_id", "event_type"], suffixes=("", "_e")).dropna()
    assert len(m) == len(exp.dropna())
    assert np.allclose(m["value"].to_numpy(), m["value_e"].to_numpy())
    assert np.allclose(m["vlen"].to_numpy(), m["vlen_e"].to_numpy())


def test_droplevel_swaplevel_columns(spark, sf_dir):
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    from go_pandas_spark.operators.reshape import unstack

    agg = ev.groupby(["user_id", "event_type"], as_index=False).agg(
        v=("value", "mean"), n=("event_id", "count"))
    wide = unstack(agg, "event_type", ["v", "n"], "user_id")
    sw = wide.swaplevel_columns()
    assert ("click", "v") in sw.column_labels
    with pytest.raises(ValueError):
        wide.droplevel_columns(0)  # duplicate inner labels must raise
    one = wide["v"]  # partial select strips a level
    assert all(isinstance(c, str) for c in one.columns)


# ---------------- round-2 ADVICE regression tests ----------------

@pytest.mark.parametrize("na_option,method,pct,case", [
    *[pytest.param(*p, "events", id="-".join(map(str, p))) for p in [
        ("top", "average", False), ("bottom", "average", False),
        ("top", "min", False), ("bottom", "max", False),
        ("top", "dense", False), ("bottom", "dense", True),
        ("top", "average", True), ("keep", "dense", True),
    ]],
    *[pytest.param(*p, id="-".join(map(str, p))) for p in [
        ("top", "first", False, "p16"), ("bottom", "first", True, "p16"),
        ("top", "dense", True, "p16-desc"), ("bottom", "min", True, "p16-desc"),
        ("keep", "max", True, "p16-nullkeys"), ("top", "average", True, "p16-nullkeys"),
    ]],
])
def test_rank_na_option_matches_pandas(spark, sf_dir, na_option, method, pct, case):
    """algorithms.py:833 na_option='top'/'bottom' + the dense-pct
    denominator (distinct values, algos_rank_helper.pxi.in:192-195)."""
    if case != "events":  # 16 partitions, NaNs, -0.0/0.0 ties
        f, pdf = _rank_rows(spark)
        kw = dict(method=method, pct=pct, na_option=na_option,
                  ascending=not case.endswith("desc"))
        dropna = not case.endswith("nullkeys")
        got = f.assign(r=f.groupby("k3", dropna=dropna)["v"].rank(**kw)).to_pandas()
        exp = pdf.groupby("k3", dropna=dropna)["v"].rank(**kw)
        assert np.allclose(got["r"].to_numpy(), exp.to_numpy(), equal_nan=True)
        return
    ev = _events(spark, sf_dir)
    ev = ev.assign(v=ev["value"].mask(ev["event_type"] == "error"))
    got = ev.assign(r=ev.groupby("user_id")["v"].rank(
        method=method, pct=pct, na_option=na_option)).to_pandas()
    pdf = _events_pdf(ev)
    exp = pdf.groupby("user_id")["v"].rank(method=method, pct=pct, na_option=na_option)
    assert np.allclose(got.sort_values("event_id")["r"].to_numpy(),
                       pdf.assign(e=exp).sort_values("event_id")["e"].to_numpy(),
                       equal_nan=True)


def test_merge_asof_duplicate_on_values_deterministic(spark, sf_dir):
    """Right rows sharing one `on` value: backward takes the LAST right
    occurrence, forward the FIRST (searchsorted semantics, merge.py:229)."""
    lp = pd.DataFrame({"t": [1, 5, 10], "lid": [1, 2, 3]})
    rp = pd.DataFrame({"t": [0, 5, 5, 5, 9], "rv": [10, 20, 30, 40, 50]})
    left = gp.Frame.from_pandas(spark, lp)
    right = gp.Frame.from_pandas(spark, rp)
    for direction in ("backward", "forward"):
        got = gp.merge_asof(left, right, on="t", direction=direction).to_pandas()
        exp = pd.merge_asof(lp, rp, on="t", direction=direction)
        g = got.sort_values("lid")["rv"].to_numpy()
        e = exp.sort_values("lid")["rv"].to_numpy()
        assert np.allclose(g, e, equal_nan=True), (direction, g, e)


def test_merge_asof_null_payload_row_atomic(spark):
    """fuzz-caught: the pick is row-ATOMIC — a matched right row whose
    payload is NaN yields NaN, it must NOT skip to an older non-null
    row (per-column ignorenulls did)."""
    lp = pd.DataFrame({"t": [1, 4, 7, 10], "lid": [0, 1, 2, 3]})
    rp = pd.DataFrame({"t": [0, 3, 6, 9], "val": [10.0, np.nan, 30.0, np.nan]})
    left = gp.Frame.from_pandas(spark, lp)
    right = gp.Frame.from_pandas(spark, rp)
    for direction in ("backward", "forward", "nearest"):
        got = gp.merge_asof(left, right, on="t", direction=direction).to_pandas()
        exp = pd.merge_asof(lp, rp, on="t", direction=direction)
        g = got.sort_values("lid")["val"].to_numpy()
        e = exp.sort_values("lid")["val"].to_numpy()
        assert np.allclose(g, e, equal_nan=True), (direction, g, e)
    # grouped (by=) path shares the row-atomic pick
    lp2 = lp.assign(g="a")
    rp2 = rp.assign(g="a")
    got = gp.merge_asof(gp.Frame.from_pandas(spark, lp2),
                        gp.Frame.from_pandas(spark, rp2),
                        on="t", by="g").to_pandas()
    exp = pd.merge_asof(lp2, rp2, on="t", by="g")
    assert np.allclose(got.sort_values("lid")["val"].to_numpy(),
                       exp.sort_values("lid")["val"].to_numpy(), equal_nan=True)


def test_reindex_method_asof_fill(spark):
    """reindex(method=) fills introduced labels from the nearest
    existing ROW (frame.py:3836) — NaN in the matched row stays NaN."""
    pdf = pd.DataFrame({"lab": np.array([2, 5, 9], dtype="int64"),
                        "v": [1.0, np.nan, 3.0]})
    f = gp.Frame.from_pandas(spark, pdf).set_index("lab")
    labels = [0, 2, 4, 6, 9, 12]
    for method in ("ffill", "bfill", "nearest"):
        got = f.reindex(index=labels, method=method).to_pandas()
        exp = pdf.set_index("lab").reindex(labels, method=method)
        assert np.allclose(got["v"].to_numpy(), exp["v"].to_numpy(),
                           equal_nan=True), method
    got = f.reindex(index=labels, method="ffill", tolerance=1).to_pandas()
    exp = pdf.set_index("lab").reindex(labels, method="ffill", tolerance=1)
    assert np.allclose(got["v"].to_numpy(), exp["v"].to_numpy(), equal_nan=True)
    # fill_value covers only labels with no in-tolerance neighbor
    got = f.reindex(index=[0, 2], method="ffill", fill_value=-1.0).to_pandas()
    assert got["v"].tolist() == [-1.0, 1.0]


def test_merge_nan_keys_match_like_pandas(spark, sf_dir):
    """_factorize_keys (merge.py:1628) gives both sides' NA keys one
    shared code — NaN merge keys match each other."""
    lp = pd.DataFrame({"k": [1.0, None, 3.0], "a": [1, 2, 3]})
    rp = pd.DataFrame({"k": [None, 3.0, 4.0], "b": [10, 20, 30]})
    left = gp.Frame.from_pandas(spark, lp)
    right = gp.Frame.from_pandas(spark, rp)
    for how in ("inner", "left", "outer"):
        got = gp.merge(left, right, how=how, on="k").to_pandas()
        exp = lp.merge(rp, how=how, on="k")
        assert len(got) == len(exp), (how, got, exp)
        gs = got.sort_values(["a", "b"], na_position="last")[["a", "b"]].to_numpy(dtype=float)
        es = exp.sort_values(["a", "b"], na_position="last")[["a", "b"]].to_numpy(dtype=float)
        assert np.allclose(gs, es, equal_nan=True), (how, gs, es)


def test_presort_memo_invalidated_by_setitem(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    f = li.sort_values("l_extendedprice", ascending=False)
    f["flag2"] = f["l_returnflag"]
    top = f.head(3).to_pandas()
    assert "flag2" in top.columns  # stale memo would drop the assigned column
    assert (top["flag2"] == top["l_returnflag"]).all()
    f2 = li.sort_values("l_extendedprice", ascending=False).cache()
    assert "l_quantity" in f2.head(2).to_pandas().columns


def test_set_index_narrowing_drops_stale_levels(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    two = li.set_index(["l_orderkey", "l_linenumber"])
    one = two.reset_index().set_index("l_suppkey")
    # narrowing 2-level -> 1 key must not leave __index_1__ in the plan
    from go_pandas_spark import _internal as I
    assert [c for c in one._sdf.columns if I.is_index_col(c)] == [I.index_col(0)]


def test_str_completion_matches_pandas(spark):
    vals = ["the quick brown fox", "Hello World", "123", "A Tale Of Two",
            "no-sep-here", "data ends with data", "", "x"]
    pdf = pd.DataFrame({"t": vals})
    f = gp.Frame.from_pandas(spark, pdf)
    t = f["t"]

    def col(s):
        return s.to_frame("r").to_pandas()["r"].tolist()

    assert col(t.str.swapcase()) == [v.swapcase() for v in vals]
    assert col(t.str.istitle()) == [v.istitle() for v in vals]
    assert col(t.str.isdecimal()) == [v.isdecimal() for v in vals]
    assert col(t.str.rfind("o")) == [v.rfind("o") for v in vals]
    assert col(t.str.removeprefix("the ")) == [v.removeprefix("the ") for v in vals]
    assert col(t.str.removesuffix("data")) == [v.removesuffix("data") for v in vals]
    # partition/rpartition come back as 3-element arrays
    assert [tuple(x) for x in col(t.str.partition(" "))] == [v.partition(" ") for v in vals]
    assert [tuple(x) for x in col(t.str.rpartition(" "))] == [v.rpartition(" ") for v in vals]
    # split honors pandas maxsplit; rsplit splits from the right
    assert [list(x) for x in col(t.str.split(" ", n=1, regex=False))] == \
        [v.split(" ", 1) for v in vals]
    assert [list(x) for x in col(t.str.rsplit(" ", n=2))] == \
        [v.rsplit(" ", 2) for v in vals]
    assert col(t.str.split(" ", regex=False).str.join("|")) == ["|".join(v.split(" ")) for v in vals]
    assert col(t.str.normalize("NFC")) == [v for v in vals]  # ASCII fixed points


def test_spearman_corr_pairwise_mask_matches_pandas(spark):
    """Spearman must rank each PAIR over its pairwise-complete rows
    (pandas nancorr_spearman), not each column over all its non-nulls —
    with DIFFERENT null masks per column the two disagree (fuzz-caught,
    corr_cov seed 60547)."""
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame({"x": rng.normal(size=200), "y": rng.normal(size=200)})
    pdf.loc[rng.choice(200, 30, replace=False), "x"] = np.nan
    pdf.loc[rng.choice(200, 30, replace=False), "y"] = np.nan
    f = gp.Frame.from_pandas(spark, pdf).repartition(5)
    got = f.corr(method="spearman")
    exp = pdf.corr(method="spearman")
    assert abs(got.loc["x", "y"] - exp.loc["x", "y"]) < 1e-12
    assert got.loc["x", "x"] == 1.0
    # corrwith(method=) was silently computing pearson — spearman now real
    # (oracle by hand: pandas corrwith(spearman) needs scipy, absent here)
    f2 = gp.Frame.from_pandas(spark, pdf[["x"]].assign(y=pdf["y"] ** 3))
    got_w = f.corrwith(f2, method="spearman")
    a, b = pdf["y"], pdf["y"] ** 3
    mask = a.notna() & b.notna()
    exp_w_y = a[mask].rank().corr(b[mask].rank())
    assert abs(got_w["y"] - exp_w_y) < 1e-12
    import pytest as _pt
    with _pt.raises(NotImplementedError):
        f.corrwith(f2, method="kendall")


def test_kendall_corr_matches_bruteforce(spark):
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({"x": rng.randint(0, 12, 300).astype(float),
                        "y": rng.randint(0, 12, 300).astype(float)})
    pdf.loc[rng.choice(300, 20, replace=False), "y"] = np.nan
    f = gp.Frame.from_pandas(spark, pdf)
    m = f.corr(method="kendall")
    x, y = pdf["x"].to_numpy(), pdf["y"].to_numpy()
    ok = ~(np.isnan(x) | np.isnan(y))
    x, y = x[ok], y[ok]
    n = len(x)
    C = D = 0
    for i in range(n):
        s = np.sign(x[i] - x[i + 1:]) * np.sign(y[i] - y[i + 1:])
        C += int((s > 0).sum())
        D += int((s < 0).sum())
    n0 = n * (n - 1) / 2

    def tie(v):
        _, c = np.unique(v, return_counts=True)
        return float((c * (c - 1) / 2)[c > 1].sum())

    exp = (C - D) / np.sqrt((n0 - tie(x)) * (n0 - tie(y)))
    assert abs(m.loc["x", "y"] - exp) < 1e-12
    assert m.loc["x", "x"] == 1.0


def test_combine_func_matches_pandas(spark):
    a = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, np.nan, 30.0]}).set_index("k")
    b = pd.DataFrame({"k": [2, 3, 4], "v": [200.0, 3.0, 400.0]}).set_index("k")
    fa = gp.Frame.from_pandas(spark, a.reset_index()).set_index("k")
    fb = gp.Frame.from_pandas(spark, b.reset_index()).set_index("k")
    got = (fa.combine(fb, (lambda s1, s2: s1.where(s1 >= s2, s2)), fill_value=-1e18)
           .reset_index().to_pandas().sort_values("k").reset_index(drop=True))
    exp = (a.combine(b, (lambda s1, s2: s1.where(s1 >= s2, s2)), fill_value=-1e18)
           .reset_index())
    pd.testing.assert_frame_equal(got, exp)


def test_scipy_interpolate_wiring_raises_cleanly(spark):
    """scipy is absent in this container: the spline path must reach
    pandas and surface ITS ImportError (wiring works), not a
    NotImplementedError from the engine."""
    pdf = pd.DataFrame({"v": [1.0, np.nan, np.nan, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    try:
        import scipy  # noqa: F401

        out = f.interpolate(method="pchip", subset=["v"]).to_pandas()["v"]
        exp = pdf["v"].interpolate(method="pchip")
        assert np.allclose(out, exp, equal_nan=True)
    except ImportError:
        with pytest.raises(Exception) as ei:
            f.interpolate(method="pchip", subset=["v"]).to_pandas()
        assert "scipy" in str(ei.value).lower()


def test_exotic_offsets_match_pandas(spark):
    """SemiMonthEnd / WeekOfMonth / Easter / FY5253 / BusinessHour vs
    real pandas over a date grid spanning month/year/weekend edges."""
    dates = pd.to_datetime([
        "1996-01-01", "1996-01-14", "1996-01-15", "1996-01-16",
        "1996-01-31", "1996-02-29", "1996-03-08", "1996-12-28",
        "1996-12-31", "1997-04-01", "1997-06-15", "1997-12-25",
    ])
    pdf = pd.DataFrame({"d": dates})
    f = gp.Frame.from_pandas(spark, pdf)
    s = f["d"]

    def got(freq, n=1):
        out = f.assign(r=s.dt.add_offset(n, freq))
        return [pd.Timestamp(v) for v in out.to_pandas()["r"]]

    for n in (1, 2, -1):
        exp = [t + n * pd.offsets.SemiMonthEnd() for t in dates]
        assert got("SM", n) == exp, f"SemiMonthEnd n={n}"
    for n in (1, -1):
        exp = [t + n * pd.offsets.WeekOfMonth(week=2, weekday=4) for t in dates]
        assert got("WOM-3FRI", n) == exp, f"WeekOfMonth n={n}"
    for n in (1, -1):
        exp = [t + n * pd.offsets.Easter() for t in dates]
        assert got("easter", n) == exp, f"Easter n={n}"
    for variation, tag in (("nearest", "RE-N-DEC-SAT"), ("last", "RE-L-DEC-SAT")):
        exp = [t + pd.offsets.FY5253(weekday=5, startingMonth=12, variation=variation)
               for t in dates]
        assert got(tag) == exp, f"FY5253 {variation}"


def test_business_hour_matches_pandas(spark):
    ts = pd.to_datetime([
        "1996-03-08 16:30:00", "1996-03-08 08:15:00", "1996-03-09 11:00:00",
        "1996-03-11 09:00:00", "1996-03-11 16:59:59", "1996-03-11 12:30:45",
    ])
    pdf = pd.DataFrame({"d": ts})
    f = gp.Frame.from_pandas(spark, pdf)
    for n in (-17, -9, -3, -1, 0, 1, 3, 9):
        out = f.assign(r=f["d"].dt.add_offset(n, "BH")).to_pandas()["r"]
        exp = [t + pd.offsets.BusinessHour(n) for t in ts]
        assert [pd.Timestamp(v) for v in out] == exp, f"BusinessHour n={n}"


def test_interpolate_scipy_path_batch_safe(spark):
    """_interpolate_scipy must concatenate ALL Arrow batches per
    partition before interpolating — correctness may not depend on the
    session's maxRecordsPerBatch conf (another op may shrink it before
    this lazy plan executes). Driven with method='linear' (no scipy in
    the container) through the same mapInPandas kernel."""
    from go_pandas_spark.operators.missing import _interpolate_scipy

    vals = [1.0, np.nan, np.nan, np.nan, 5.0, np.nan, np.nan, 8.0, np.nan, 10.0]
    pdf = pd.DataFrame({"v": vals})
    f = gp.Frame.from_pandas(spark, pdf)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        out = _interpolate_scipy(f, "linear", ["v"], None, None).to_pandas()["v"]
    finally:
        if old is not None:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        else:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    exp = pdf["v"].interpolate(method="linear")
    assert np.allclose(out.to_numpy(), exp.to_numpy(), equal_nan=True)


def test_rsplit_whitespace_default_matches_pandas(spark):
    vals = ["a b  c d", "one", "  x y ", "p q r s t"]
    f = gp.Frame.from_pandas(spark, pd.DataFrame({"s": vals}))
    for n in (1, 2):
        got = f["s"].str.rsplit(n=n).to_pandas()
        exp = [v.rsplit(None, n) for v in vals]  # pandas maps to str.rsplit
        assert [list(g) for g in got] == exp, n
    got0 = f["s"].str.rsplit().to_pandas()
    assert [list(g) for g in got0] == [v.rsplit() for v in vals]
    got_lit = f["s"].str.rsplit(" ", n=1).to_pandas()
    exp_lit = [v.rsplit(" ", 1) for v in vals]
    assert [list(g) for g in got_lit] == exp_lit


def test_istitle_matches_python(spark):
    vals = ["ABc", "Title Case", "NOT TITLE", "A", "aBc", "Ab Cd", "Ab cD",
            "123", "1A2b", "Hello, World!", "HeLLo", ""]
    f = gp.Frame.from_pandas(spark, pd.DataFrame({"s": vals}))
    got = f["s"].str.istitle().to_pandas().tolist()
    exp = [v.istitle() for v in vals]
    assert got == exp, list(zip(vals, got, exp))


def test_str_cat_elementwise_null_semantics(spark):
    """fuzz-caught: elementwise str.cat must propagate NaN (either
    side null => null) unless na_rep patches it — concat_ws silently
    DROPPED the null side."""
    pdf = pd.DataFrame({"a": ["x", None, "z", None], "b": ["1", "2", None, None]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.assign(o=f["a"].str.cat(f["b"], sep="-")).to_pandas()["o"].tolist()
    exp = pdf["a"].str.cat(pdf["b"], sep="-")
    assert [g for g in got] == [None if pd.isna(e) else e for e in exp]
    got2 = f.assign(o=f["a"].str.cat(f["b"], sep="-", na_rep="?")).to_pandas()["o"].tolist()
    exp2 = pdf["a"].str.cat(pdf["b"], sep="-", na_rep="?").tolist()
    assert got2 == exp2


def test_combine_positional_alignment_after_sort(spark):
    """fuzz-caught: unindexed combine/combine_first align on TRUE
    positions — raw __order__ ids diverge after independent
    sort/repartition chains."""
    p1 = pd.DataFrame({"rid": [0, 1, 2, 3], "v": [1.0, np.nan, 3.0, 4.0]})
    p2 = pd.DataFrame({"rid": [0, 1, 2, 3], "v": [10.0, 20.0, np.nan, 40.0]})
    f1 = gp.Frame.from_pandas(spark, p1).repartition(3).sort_values("rid")
    f2 = gp.Frame.from_pandas(spark, p2).repartition(5).sort_values("rid")
    got = f1[["v"]].combine(f2[["v"]], func=lambda a, b: a + b).to_pandas()
    exp = p1[["v"]].combine(p2[["v"]], lambda a, b: a + b)
    assert np.allclose(got["v"].to_numpy(), exp["v"].to_numpy(), equal_nan=True)
    gotf = f1[["v"]].combine_first(f2[["v"]]).to_pandas()
    expf = p1[["v"]].combine_first(p2[["v"]])
    assert np.allclose(gotf["v"].to_numpy(), expf["v"].to_numpy(), equal_nan=True)


def test_combine_both_null_stays_null_with_fill_value(spark):
    a = pd.DataFrame({"k": [1, 2], "v": [np.nan, 2.0]}).set_index("k")
    b = pd.DataFrame({"k": [1, 2], "v": [np.nan, 5.0]}).set_index("k")
    fa = gp.Frame.from_pandas(spark, a.reset_index()).set_index("k")
    fb = gp.Frame.from_pandas(spark, b.reset_index()).set_index("k")
    got = (fa.combine(fb, (lambda s1, s2: s1 + s2), fill_value=0.0)
           .reset_index().to_pandas().sort_values("k").reset_index(drop=True))
    # Reference semantics (pandas 0.24 frame.py combine:
    # `arr[this_mask & other_mask] = np.nan`): both-null positions stay
    # NaN even with fill_value; modern pandas differs, so hand-compute.
    exp = pd.DataFrame({"k": [1, 2], "v": [np.nan, 7.0]})
    pd.testing.assert_frame_equal(got, exp)


def test_apply_axis0_matches_pandas(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, np.nan, 4.0], "y": [10.0, 20.0, 30.0, 40.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    # numpy method-dispatching callables route to JVM aggregates
    for func in (np.sum, np.mean, np.min, np.max, np.std, np.var):
        got = f.apply(func, axis=0)
        exp = pdf.apply(func, axis=0)
        assert np.allclose(got.sort_index(), exp.sort_index(),
                           equal_nan=True), func
    # string names route through the agg table
    assert np.allclose(f.apply("sum", axis=0).sort_index(),
                       pdf.apply("sum", axis=0).sort_index())
    # arbitrary scalar-returning callable -> grouped-agg pandas UDF
    got = f.apply(lambda s: float(s.max() - s.min()), axis=0)
    exp = pdf.apply(lambda s: float(s.max() - s.min()), axis=0)
    assert np.allclose(got.sort_index(), exp.sort_index())
    # np.median does NOT dispatch: NaN-propagating, exact parity
    got = f.apply(np.median, axis=0)
    exp = pdf.apply(np.median, axis=0)
    assert np.allclose(got.sort_index(), exp.sort_index(), equal_nan=True)


def test_str_cat_collapse_matches_pandas(spark):
    s = pd.Series(["b", None, "a", "c", None, "d"])
    f = gp.Frame.from_pandas(spark, pd.DataFrame({"s": s}))
    assert f["s"].str.cat(sep="|") == s.str.cat(sep="|")
    assert f["s"].str.cat(sep="~", na_rep="-") == s.str.cat(sep="~", na_rep="-")
    assert f["s"].str.cat() == s.str.cat()


def test_pivot_table_margins_multi_values_matches_pandas(spark):
    pdf = pd.DataFrame({
        "i": list("xxyyzxy"), "c": list("ababaab"),
        "a": [1.0, 2, 3, 4, 5, 6, 7], "b": [10.0, 20, 30, 40, 50, 60, 70],
    })
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.pivot_table(values=["a", "b"], index="i", columns="c",
                        aggfunc="mean", margins=True)
    gp_pdf = got.to_pandas()
    exp = pdf.pivot_table(values=["a", "b"], index="i", columns="c",
                          aggfunc="mean", margins=True)
    assert list(gp_pdf.columns) == [tuple(c) if isinstance(c, tuple) else c
                                    for c in exp.columns.tolist()]
    assert list(gp_pdf.index) == list(exp.index)
    assert np.allclose(gp_pdf.to_numpy(dtype=float), exp.to_numpy(dtype=float),
                       equal_nan=True)


def test_split_whitespace_default_empty_matches_python(spark):
    vals = ["", "   ", "a b", " a  b ", "a", " lead", "trail "]
    f = gp.Frame.from_pandas(spark, pd.DataFrame({"s": vals}))
    got = f["s"].str.split().to_pandas().tolist()
    exp = [v.split() for v in vals]
    assert [list(g) for g in got] == exp, list(zip(vals, got, exp))
    got_r = f["s"].str.rsplit().to_pandas().tolist()
    exp_r = [v.rsplit() for v in vals]
    assert [list(g) for g in got_r] == exp_r


@pytest.mark.parametrize("direction,area,limit", [
    ("forward", None, None), ("backward", None, None), ("both", None, None),
    ("forward", "inside", None), ("forward", "outside", None),
    ("both", "inside", 2), ("forward", None, 2), ("backward", None, 1),
    ("both", None, 1), ("backward", "inside", None), ("both", "outside", None),
])
def test_interpolate_limit_direction_area_matches_pandas(spark, direction, area, limit):
    """interpolate(limit_direction=, limit_area=) vs real pandas
    (reference generic.py:6438) — leading/trailing gaps, interior gaps
    longer than the limit, and an all-NaN edge in one fixture."""
    pdf = pd.DataFrame({"v": [np.nan, np.nan, 1.0, np.nan, np.nan, np.nan, 5.0,
                              np.nan, 7.0, np.nan, np.nan, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.interpolate(subset=["v"], limit=limit, limit_direction=direction,
                        limit_area=area).to_pandas()["v"].to_numpy()
    exp = pdf["v"].interpolate(limit=limit, limit_direction=direction,
                               limit_area=area).to_numpy()
    assert np.allclose(got, exp, equal_nan=True), f"{direction}/{area}/{limit}\n{got}\n{exp}"


def test_interpolate_scipy_global_guard_fires(spark, monkeypatch):
    """Ungrouped scipy interpolate is single-task by semantics (one
    global curve): the size guard must refuse past the bound with an
    actionable message; partition_by= stays distributed and unguarded."""
    from go_pandas_spark.operators import missing as M

    monkeypatch.setattr(M, "_SCIPY_GLOBAL_MAX_ROWS", 3)
    pdf = pd.DataFrame({"v": [1.0, np.nan, 3.0, np.nan, 5.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    with pytest.raises(ValueError, match="partition_by"):
        f.interpolate(method="pchip", subset=["v"]).to_pandas()


def test_cut_labels_false_matches_pandas(spark):
    """pd.cut(labels=False) returns 0-based bin codes (tile.py:23)."""
    pdf = pd.DataFrame({"v": [0.5, 1.0, 2.5, 7.0, 10.0, 11.0, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    bins = [0.0, 1.0, 5.0, 10.0]
    got = f.assign(c=gp.cut(f["v"], bins, labels=False)).to_pandas()["c"]
    exp = pd.cut(pdf["v"], bins, labels=False)
    for g, e in zip(got.tolist(), exp.tolist()):
        if pd.isna(e):
            assert g is None or pd.isna(g)
        else:
            assert g == int(e), (got.tolist(), exp.tolist())


def test_frame_flex_arithmetic_matches_pandas(spark):
    """Frame.add/sub/mul/div/floordiv/mod/pow — scalar broadcast and
    frame-vs-frame positional alignment with fill_value
    (ops.py _arith_method_FRAME)."""
    a = pd.DataFrame({"x": [1.0, 2.0, np.nan], "y": [4.0, 5.0, 6.0]})
    b = pd.DataFrame({"x": [10.0, np.nan, 30.0], "z": [7.0, 8.0, 9.0]})
    fa = gp.Frame.from_pandas(spark, a)
    fb = gp.Frame.from_pandas(spark, b)
    # scalar
    got = fa.add(10).to_pandas()
    exp = a.add(10)
    assert np.allclose(got[["x", "y"]], exp[["x", "y"]], equal_nan=True)
    got = fa.pow(2).to_pandas()
    assert np.allclose(got[["x", "y"]], a.pow(2)[["x", "y"]], equal_nan=True)
    # frame vs frame: shared col combined, non-shared null
    got = fa.add(fb).to_pandas()
    exp = a.add(b)
    for c in ["x", "y", "z"]:
        assert np.allclose(got[c], exp[c], equal_nan=True), (c, got[c], exp[c])
    # fill_value patches one-sided NaNs only
    got = fa.mul(fb, fill_value=1.0).to_pandas()
    exp = a.mul(b, fill_value=1.0)
    assert np.allclose(got["x"], exp["x"], equal_nan=True)
    # python-sign floordiv/mod
    c1 = pd.DataFrame({"v": [-7.0, 7.0, -7.0]})
    c2 = pd.DataFrame({"v": [2.0, -2.0, -2.0]})
    g = gp.Frame.from_pandas(spark, c1).floordiv(gp.Frame.from_pandas(spark, c2)).to_pandas()["v"]
    assert np.allclose(g, c1["v"].floordiv(c2["v"]), equal_nan=True)


def test_query_local_dict_and_reductions_numeric_only(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0], "s": ["a", "b", "c"]})
    f = gp.Frame.from_pandas(spark, pdf)
    assert len(f.query("x > @val", local_dict={"val": 1.5})) == 2
    assert len(f.query("x > @val", val=2.5)) == 1
    m = f.max(numeric_only=True)
    assert dict(m) == {"x": 3.0}
    s = f.sum(numeric_only=True)
    assert dict(s) == {"x": 6.0}


def test_axis1_reductions_match_pandas(spark):
    """min/max/sum/mean(axis=1), count(axis=1), dropna(axis=1) —
    row-wise reductions as pure array expressions (frame.py:7090)."""
    pdf = pd.DataFrame({"x": [1.0, 2.0, np.nan], "n": [10.0, 20.0, 30.0],
                        "s": ["a", None, "c"]})
    f = gp.Frame.from_pandas(spark, pdf)
    num = ["x", "n"]
    for kind in ("min", "max", "sum", "mean"):
        got = getattr(f[num], kind)(axis=1).to_pandas().to_numpy()
        exp = getattr(pdf[num], kind)(axis=1).to_numpy()
        assert np.allclose(got, exp, equal_nan=True), kind
    assert f.count(axis=1).to_pandas().tolist() == pdf.count(axis=1).tolist()
    assert f.dropna(axis=1).columns == list(pdf.dropna(axis=1).columns)
    assert f.dropna(axis=1, how="all").columns == list(pdf.dropna(axis=1, how="all").columns)


def test_series_describe_corr_cov_vcbins(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0], "n": [10.0, 20.0, 15.0, 40.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    assert abs(f["x"].corr(f["n"]) - pdf["x"].corr(pdf["n"])) < 1e-9
    assert abs(f["x"].corr(f["n"], method="spearman") - 0.8) < 1e-9  # rank pearson
    assert abs(f["x"].cov(f["n"]) - pdf["x"].cov(pdf["n"])) < 1e-9
    d = f["x"].describe().to_pandas()
    assert len(d) >= 5
    vc = {r[0]: r[1] for r in f["x"].value_counts(bins=2).to_pandas().values.tolist()}
    assert sorted(vc.values()) == [2, 2]  # two per equal-width half


def test_stack_mixed_dtypes_and_translate(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0], "n": [10, 20], "s": ["abc", "bca"]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = sorted(f[["x", "n"]].stack().to_pandas()["value"].tolist())
    exp = sorted(float(v) for v in pdf[["x", "n"]].stack().tolist())
    assert got == exp
    assert (f["s"].str.translate({ord("a"): "z", ord("b"): None}).to_pandas().tolist()
            == [s.translate({ord("a"): "z", ord("b"): None}) for s in pdf["s"]])


def test_rowwise_idx_and_bool_match_pandas(spark):
    """idxmin/idxmax(axis=1), any/all(axis=1) vs pandas."""
    pdf = pd.DataFrame({"x": [1.0, 5.0, np.nan], "n": [3.0, 2.0, 4.0],
                        "b": [True, False, False], "z": [0.0, 1.0, 0.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    num = ["x", "n"]
    assert f[num].idxmin(axis=1).to_pandas().tolist() == pdf[num].idxmin(axis=1).tolist()
    assert f[num].idxmax(axis=1).to_pandas().tolist() == pdf[num].idxmax(axis=1).tolist()
    bools = ["b", "z"]
    assert f[bools].any(axis=1).to_pandas().tolist() == pdf[bools].any(axis=1).tolist()
    assert f[bools].all(axis=1).to_pandas().tolist() == pdf[bools].all(axis=1).tolist()


def test_qcut_labels_false_matches_pandas(spark):
    """qcut(labels=False) returns 0-based quantile-bin codes."""
    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = gp.qcut(f, "v", 4, labels=False).to_pandas().sort_values("v")["v_bin"].tolist()
    exp = pd.qcut(pdf["v"], 4, labels=False).tolist()
    assert got == exp, (got, exp)


def test_head_tail_negative_matches_pandas(spark):
    """head(-k)/tail(-k): drop from the other end (generic.py:4553)."""
    pdf = pd.DataFrame({"x": list(range(8))})
    f = gp.Frame.from_pandas(spark, pdf)
    for n in (-1, -3, -8, -20):
        assert f.head(n).to_pandas()["x"].tolist() == pdf.head(n)["x"].tolist(), n
        assert f.tail(n).to_pandas()["x"].tolist() == pdf.tail(n)["x"].tolist(), n


def test_frame_series_agg_matches_pandas(spark):
    """Frame.agg / Series.agg spec forms collapse to one Spark job and
    match pandas (frame.py:6073, series.py:3358)."""
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0, 4.0],
                        "b": [10.0, 20.0, 30.0, 40.0],
                        "s": ["x", "y", "z", "w"]})
    f = gp.Frame.from_pandas(spark, pdf)
    # str -> Series over numeric columns
    got = f.agg("sum")
    exp = pdf[["a", "b"]].agg("sum")
    assert dict(got) == dict(exp)
    # list -> DataFrame funcs x cols
    got = f.agg(["sum", "min", "mean"])
    exp = pdf[["a", "b"]].agg(["sum", "min", "mean"])
    assert got.loc["min", "a"] == exp.loc["min", "a"]
    assert got.loc["mean", "b"] == exp.loc["mean", "b"]
    assert list(got.index) == list(exp.index)
    # dict all-scalar -> Series
    got = f.agg({"a": "max", "b": "mean"})
    exp = pdf.agg({"a": "max", "b": "mean"})
    assert dict(got) == dict(exp)
    # dict with list -> DataFrame with NaN holes
    got = f.agg({"a": ["sum", "max"], "b": ["mean"]})
    exp = pdf.agg({"a": ["sum", "max"], "b": ["mean"]})
    assert got.loc["sum", "a"] == exp.loc["sum", "a"]
    assert pd.isna(got.loc["sum", "b"]) and pd.isna(exp.loc["sum", "b"])
    # Series.agg forms
    assert f["a"].agg("sum") == pdf["a"].agg("sum")
    got = f["a"].agg(["min", "max", "std"])
    exp = pdf["a"].agg(["min", "max", "std"])
    assert dict(got) == pytest.approx(dict(exp))
    # aliases
    assert f["a"].product() == pdf["a"].product()
    assert f.isnull().to_pandas().values.tolist() == pdf.isnull().values.tolist()
    assert f["a"].notnull().to_pandas().tolist() == pdf["a"].notnull().tolist()
    assert f.get("nope", 7) == 7 and list(f.keys()) == list(pdf.keys())


def test_groupby_cumprod_fillna_corr_cov(spark):
    """groupby cumprod/fillna/corr/cov vs pandas (base/groupby.py)."""
    pdf = pd.DataFrame({"k": ["a", "a", "a", "b", "b", "b"],
                        "x": [1.0, 2.0, None, 3.0, 4.0, 5.0],
                        "y": [2.0, 1.0, 4.0, 9.0, 8.0, 6.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = (f.groupby("k").cumprod().to_pandas().sort_values(["k", "y"]))
    exp = pdf.assign(**pdf.groupby("k")[["x", "y"]].cumprod()).sort_values(["k", "y"])
    for c in ("x", "y"):
        ge, ee = got[c].tolist(), exp[c].tolist()
        assert all((pd.isna(a) and pd.isna(b)) or a == pytest.approx(b)
                   for a, b in zip(ge, ee)), (c, ge, ee)
    # fillna scalar + method
    got = f.groupby("k").fillna(0.0).to_pandas()
    assert got["x"].isna().sum() == 0
    gf = f.groupby("k").fillna(method="ffill").to_pandas().sort_values(["k", "y"])
    ef = pdf.assign(x=pdf.groupby("k")["x"].ffill()).sort_values(["k", "y"])
    assert gf["x"].tolist() == pytest.approx(ef["x"].tolist())
    # corr/cov long format vs pandas matrix entries
    got = f.groupby("k").corr().to_pandas()
    for _, r in got.iterrows():
        sub = pdf[pdf["k"] == r["k"]]
        exp_v = sub[r["col_a"]].corr(sub[r["col_b"]])
        assert r["corr"] == pytest.approx(exp_v, nan_ok=True), r
    got = f.groupby("k").cov().to_pandas()
    for _, r in got.iterrows():
        sub = pdf[pdf["k"] == r["k"]]
        exp_v = sub[r["col_a"]].cov(sub[r["col_b"]])
        assert r["cov"] == pytest.approx(exp_v, nan_ok=True), r


def test_dt_nanosecond_zero(spark):
    pdf = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:00.123456"])})
    f = gp.Frame.from_pandas(spark, pdf)
    assert f["t"].dt.nanosecond.tolist() == [0]


def test_flex_comparisons_and_reversed_ops(spark):
    """eq/ne/lt/le/gt/ge all-bool frames and r-variant arithmetic
    (ops.py _comp_method_FRAME / r-ops) vs pandas."""
    pdf = pd.DataFrame({"a": [1.0, 2.0, None], "b": [3.0, 1.0, 2.0],
                        "s": ["x", "y", "z"]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.eq(2.0).to_pandas()
    exp = pdf.eq(2.0)
    for c in ("a", "b", "s"):
        assert got[c].tolist() == exp[c].tolist(), c
    got = f.ne(2.0).to_pandas()
    exp = pdf.ne(2.0)
    for c in ("a", "b", "s"):
        assert got[c].tolist() == exp[c].tolist(), c
    # modern pandas raises TypeError on ordered str-vs-numeric; engine
    # keeps the py2-era all-False convention for incompatible columns
    got = f.ge("y").to_pandas()
    assert got["s"].tolist() == [False, True, True]
    assert got["a"].tolist() == [False, False, False]
    # frame-vs-frame comparison, positional alignment
    other = pd.DataFrame({"a": [1.0, 5.0, 1.0], "b": [0.0, 1.0, 9.9]})
    fo = gp.Frame.from_pandas(spark, other)
    got = f.lt(fo).to_pandas()
    assert got["a"].tolist() == [False, True, False]  # None<1.0 -> False
    assert got["s"].tolist() == [False, False, False]  # not shared
    # reversed arithmetic
    got = f.rsub(10.0).to_pandas()
    exp = (10.0 - pdf[["a", "b"]])
    assert got["a"].dropna().tolist() == exp["a"].dropna().tolist()
    got = f.rdiv(6.0).to_pandas()
    assert got["b"].tolist() == (6.0 / pdf["b"]).tolist()
    got = f.rpow(2.0).to_pandas()
    assert got["b"].tolist() == (2.0 ** pdf["b"]).tolist()


def test_misc_frame_surface(spark):
    """copy/bool/compound/clip bounds/transpose/tshift/iteritems."""
    pdf = pd.DataFrame({"r": [0.1, 0.2, -0.05]})
    f = gp.Frame.from_pandas(spark, pdf)
    assert f.copy().to_pandas()["r"].tolist() == pdf["r"].tolist()
    comp = f.compound()
    assert comp["r"] == pytest.approx((1 + pdf["r"]).prod() - 1)
    assert f.clip_lower(0.0).to_pandas()["r"].min() >= 0.0
    assert f.clip_upper(0.1).to_pandas()["r"].max() <= 0.1
    single = gp.Frame.from_pandas(spark, pd.DataFrame({"x": [True]}))
    assert single.bool() is True
    with pytest.raises(ValueError):
        f.bool()
    assert dict(f.iteritems())["r"].sum() == pytest.approx(pdf["r"].sum())
    tf = gp.Frame.from_pandas(spark, pd.DataFrame(
        {"t": pd.to_datetime(["2024-01-01", "2024-01-02"])}))
    got = tf.tshift(2, "1d").to_pandas()["t"]
    assert got.tolist() == list(pd.to_datetime(["2024-01-03", "2024-01-04"]))


def test_series_surface_batch(spark):
    """Late-r5 Series surface: ffill/bfill, append, argsort, ptp,
    compound, update, reset_index, first/last_valid_index, flex
    comparisons, rdivmod — vs pandas."""
    pdf = pd.DataFrame({"x": [None, 2.0, None, 4.0, None]})
    f = gp.Frame.from_pandas(spark, pdf)
    s = f["x"]
    assert np.allclose(s.ffill().tolist(), pdf["x"].ffill().tolist(),
                       equal_nan=True)
    assert np.allclose(s.bfill().tolist(), pdf["x"].bfill().tolist(),
                       equal_nan=True)
    assert s.first_valid_index() == pdf["x"].first_valid_index()
    assert s.last_valid_index() == pdf["x"].last_valid_index()
    assert s.ptp() == 2.0
    assert np.allclose(s.copy().tolist(), s.tolist(), equal_nan=True)
    r = gp.Frame.from_pandas(spark, pd.DataFrame({"r": [0.1, 0.2]}))["r"]
    assert r.compound() == pytest.approx(1.1 * 1.2 - 1)
    # flex comparisons with fill_value
    got = s.eq(2.0, fill_value=0.0).tolist()
    assert got == [False, True, False, False, False]
    got = s.ge(2.0, fill_value=99.0).tolist()
    assert got == [True, True, True, True, True]
    # append / argsort
    t = gp.Frame.from_pandas(spark, pd.DataFrame({"x": [9.0]}))["x"]
    assert len(s.append(t).tolist()) == 6  # count() is non-null count
    a = gp.Frame.from_pandas(spark, pd.DataFrame({"v": [3.0, 1.0, 2.0]}))["v"]
    assert a.argsort().tolist() == list(pd.Series([3.0, 1.0, 2.0]).argsort())
    # update: other's non-null values win
    u = gp.Frame.from_pandas(spark, pd.DataFrame({"x": [9.0, None, 7.0, None, None]}))["x"]
    got = s.update(u).tolist()
    assert got[0] == 9.0 and got[1] == 2.0 and got[2] == 7.0 and got[3] == 4.0
    # reset_index(drop=False) -> frame; drop=True -> series
    assert list(s.reset_index().columns)[-1] == "x"
    assert len(s.reset_index(drop=True).tolist()) == 5
    # rdivmod
    q, m = gp.Frame.from_pandas(spark, pd.DataFrame({"x": [3.0]}))["x"].rdivmod(10.0)
    assert q.tolist() == [3.0] and m.tolist() == [1.0]
    # tshift on a datetime series
    ts = gp.Frame.from_pandas(spark, pd.DataFrame(
        {"t": pd.to_datetime(["2024-01-01"])}))["t"]
    assert ts.tshift(1, "1d").tolist() == [pd.Timestamp("2024-01-02")]


def test_series_filter_first_last_resample(spark):
    """Series index-filter, time-based first/last, resample over a
    datetime index with pandas start_day bin anchoring."""
    pdf = pd.DataFrame({"t": pd.date_range("2024-01-01", periods=10, freq="D"),
                        "v": [float(i) for i in range(10)]})
    tf = gp.Frame.from_pandas(spark, pdf).set_index("t")
    s = tf["v"]
    assert sorted(s.first("3d").tolist()) == [0.0, 1.0, 2.0]
    assert sorted(s.last("2d").tolist()) == [8.0, 9.0]
    r = s.resample("2d").sum().to_pandas()
    exp = pdf.set_index("t")["v"].resample("2D").sum()
    assert sorted(r[r.columns[-1]].tolist()) == sorted(exp.tolist())
    kf = gp.Frame.from_pandas(spark, pd.DataFrame(
        {"k": ["a", "b", "c"], "v": [1.0, 2.0, 3.0]})).set_index("k")
    assert sorted(kf["v"].filter(items=["a", "c"]).tolist()) == [1.0, 3.0]
    assert kf["v"].filter(like="b").tolist() == [2.0]
    assert kf["v"].dot(kf["v"]) == pytest.approx(14.0)
    with pytest.raises(NotImplementedError):
        kf["v"].pop("a")


def test_groupby_take_and_aliases(spark):
    """groupby.take positional-within-group (negatives from the end),
    pad/backfill aliases."""
    pdf = pd.DataFrame({"k": ["a"] * 4 + ["b"] * 3, "v": list(range(7))})
    f = gp.Frame.from_pandas(spark, pdf)
    got = (f.groupby("k", as_index=False).take([0, -1])
           .to_pandas().sort_values(["k", "v"]))
    exp = pdf.groupby("k").take([0, -1]).reset_index().sort_values(["k", "v"])
    assert got[["k", "v"]].values.tolist() == exp[["k", "v"]].values.tolist()
    gb = f.groupby("k")
    assert gb.pad.__func__ is gb.ffill.__func__
    assert gb.backfill.__func__ is gb.bfill.__func__


def test_resampler_extended_methods(spark):
    """Resampler std/var/prod/nunique/quantile/bfill/interpolate/apply
    vs pandas on an hourly series."""
    pdf = pd.DataFrame({"t": pd.date_range("2024-01-01", periods=24, freq="h"),
                        "v": [float(i) for i in range(24)]})
    f = gp.Frame.from_pandas(spark, pdf)
    r = f.resample("6h", on="t")
    exp = pdf.set_index("t")["v"].resample("6h")
    for m in ("std", "var", "prod", "nunique"):
        got = sorted(getattr(r, m)().to_pandas()["v"].tolist())
        assert np.allclose(got, sorted(getattr(exp, m)().tolist())), m
    got = sorted(r.quantile(0.5).to_pandas()["v"].tolist())
    assert np.allclose(got, sorted(exp.quantile(0.5).tolist()))
    p2 = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 03:00"]),
                       "v": [1.0, 4.0]})
    f2 = gp.Frame.from_pandas(spark, p2)
    assert f2.resample("1h", on="t").bfill().to_pandas()["v"].tolist() == \
        p2.set_index("t")["v"].resample("1h").bfill().tolist()
    assert np.allclose(
        f2.resample("1h", on="t").interpolate().to_pandas()["v"].tolist(),
        p2.set_index("t")["v"].resample("1h").interpolate().tolist())
    got = f.resample("6h", on="t").apply(
        lambda d: pd.DataFrame({"rng": [d["v"].max() - d["v"].min()]}))
    assert sorted(got.to_pandas()["rng"].tolist()) == [5.0, 5.0, 5.0, 5.0]


def test_resample_upsample_row_atomic_fills(spark):
    """fuzz-caught (same class as the merge_asof struct pick): upsample
    ffill/bfill/nearest take the bucket's last ROW — a NaN cell in that
    row stays NaN instead of being filled from an older row; nearest
    ties break FORWARD (Index.get_indexer rule)."""
    pdf = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 02:00",
                                             "2024-01-01 05:00"]),
                        "v": [1.0, np.nan, 3.0], "u": [10.0, 20.0, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    p = pdf.set_index("t")
    for m in ("ffill", "bfill", "nearest"):
        got = getattr(f.resample("1h", on="t"), m)().to_pandas()
        exp = getattr(p.resample("1h"), m)()
        for c in ("v", "u"):
            assert np.allclose(got[c].to_numpy(), exp[c].to_numpy(),
                               equal_nan=True), (m, c, got[c].tolist(), exp[c].tolist())


def test_reindex_nearest_tie_forward(spark):
    """reindex(method='nearest') equidistant tie goes to the LATER
    label (Index.get_indexer rule; merge_asof's own tie stays backward)."""
    pdf = pd.DataFrame({"lab": np.array([0, 10], dtype="int64"), "v": [1.0, 2.0]})
    f = gp.Frame.from_pandas(spark, pdf).set_index("lab")
    got = f.reindex(index=[5], method="nearest").to_pandas()["v"].tolist()
    exp = pdf.set_index("lab").reindex([5], method="nearest")["v"].tolist()
    assert got == exp == [2.0]


def test_reorder_levels_and_asfreq(spark):
    pdf = pd.DataFrame({"a": ["x", "x", "y"], "b": [1, 2, 3],
                        "v": [10.0, 20.0, 30.0]})
    f = gp.Frame.from_pandas(spark, pdf).set_index(["a", "b"])
    r = f.reorder_levels(["b", "a"])
    exp = pdf.set_index(["a", "b"]).reorder_levels(["b", "a"])
    assert r.to_pandas().index.names == exp.index.names
    got = r.reset_index().to_pandas().sort_values("v")
    assert got[["b", "a", "v"]].values.tolist() == \
        exp.reset_index().sort_values("v")[["b", "a", "v"]].values.tolist()
    with pytest.raises(ValueError):
        f.reorder_levels(["a"])
    # asfreq regrid + ffill
    tp = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 02:00"]),
                       "v": [1.0, 3.0]})
    tf = gp.Frame.from_pandas(spark, tp)
    got = tf.asfreq("1h", on="t", method="ffill").to_pandas()["v"].tolist()
    exp = tp.set_index("t")["v"].asfreq("1h", method="ffill").tolist()
    assert got == exp


def test_clip_preserves_nulls(spark):
    """SQL greatest/least skip nulls; pandas clip must keep NaN."""
    pdf = pd.DataFrame({"a": [np.nan, -50.0, 0.0, 50.0, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.clip(-10, 10).to_pandas()["a"]
    exp = pdf["a"].clip(-10, 10)
    assert np.allclose(got, exp, equal_nan=True)
    got = f["a"].clip(lower=-10).tolist()
    assert np.allclose(got, pdf["a"].clip(lower=-10), equal_nan=True)
    got = f["a"].clip_upper(10).tolist()
    assert np.allclose(got, pdf["a"].clip(upper=10), equal_nan=True)


def test_cumprod_integer_exactness(spark):
    """Integer cumprod returns exact integers (the blocked kernel runs
    in log space; round-back restores int64 within double range)."""
    pdf = pd.DataFrame({"b": [-36, -47, 44, -15, -19, -22, -33, 44]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f["b"].cumprod().tolist()
    assert got == pdf["b"].cumprod().tolist()
    assert all(isinstance(x, int) for x in got)


def test_pct_change_zero_division_inf(spark):
    """pandas pct_change over a zero previous value gives +/-inf (0/0
    -> NaN); Spark division by zero is NULL, so the engine synthesizes
    the inf explicitly — all three paths (Series/Frame/groupby)."""
    pdf = pd.DataFrame({"b": [1, 0, 3, 0, -2, 0, 0], "k": ["g"] * 7})
    f = gp.Frame.from_pandas(spark, pdf)
    exp = pdf["b"].pct_change(fill_method=None).tolist()

    def same(a, b):
        return all((np.isnan(x) and np.isnan(y)) or x == y
                   for x, y in zip(a, b))

    assert same(f["b"].pct_change().tolist(), exp)
    assert same(f[["b"]].pct_change().to_pandas()["b"].tolist(), exp)
    assert same(f.groupby("k").pct_change().to_pandas()["b"].tolist(), exp)


def test_string_title_zfill_swapcase_unicode(spark):
    """Fuzz-caught: title must break runs on ANY non-letter, zfill
    must never truncate and keeps the sign slot, swapcase must handle
    non-ASCII letters."""
    vals = ["tab\tsep", "a.b-c_d", "UPPER lower", "+42", "-7",
            "x" * 10, "ümlaut", ""]
    pdf = pd.DataFrame({"s": vals})
    f = gp.Frame.from_pandas(spark, pdf)
    assert f["s"].str.title().tolist() == pdf["s"].str.title().tolist()
    assert f["s"].str.zfill(6).tolist() == pdf["s"].str.zfill(6).tolist()
    assert f["s"].str.zfill(1).tolist() == pdf["s"].str.zfill(1).tolist()
    assert f["s"].str.swapcase().tolist() == pdf["s"].str.swapcase().tolist()


def test_series_round_half_even(spark):
    """Series.round must be half-to-even like Frame.round/pandas."""
    pdf = pd.DataFrame({"x": [0.5, 1.5, 2.5, -0.5, 0.125]})
    f = gp.Frame.from_pandas(spark, pdf)
    assert f["x"].round(0).tolist() == pdf["x"].round(0).tolist()
    assert f["x"].round(2).tolist() == pdf["x"].round(2).tolist()


def test_sum_prod_neutral_elements(spark):
    """pandas min_count=0: all-null group/column sums to 0, prods to 1
    (SQL returns NULL) — aggregation paths AND window transform, but
    NOT min/max (stay NaN)."""
    pdf = pd.DataFrame({"k": ["a", "a", "b"], "v": [None, None, 2.0]})
    pdf["v"] = pdf["v"].astype(float)
    f = gp.Frame.from_pandas(spark, pdf)
    assert f.groupby("k").agg(o=("v", "sum")).to_pandas() \
        .sort_index()["o"].tolist() == pdf.groupby("k")["v"].sum().sort_index().tolist()
    assert f.groupby("k").agg(o=("v", "prod")).to_pandas() \
        .sort_index()["o"].tolist() == pdf.groupby("k")["v"].prod().sort_index().tolist()
    t = f.assign(z=f.groupby("k")["v"].transform("sum")).to_pandas()
    e = pdf.groupby("k")["v"].transform("sum")
    assert sorted(t["z"].tolist()) == sorted(e.tolist())
    mn = f.groupby("k").agg(o=("v", "min")).to_pandas().sort_index()["o"]
    assert pd.isna(mn.iloc[0])
    a = f[f["k"] == "a"]
    assert a["v"].sum() == 0 and a["v"].prod() == 1.0
    assert a.sum()["v"] == 0
    assert a.agg("sum")["v"] == 0


def test_stack_keeps_index_and_dummies_null_keys(spark):
    """Fuzz-caught: stack on an indexed frame must keep (index...,
    level_1) like pandas (the melt path dropped the index level);
    get_dummies gives 0 (not NULL) for null keys, and columns=[...] /
    no-arg object inference work."""
    w = pd.DataFrame({"id": [1, 2], "p": [1.0, 2.0], "q": [3.0, 4.0]})
    fw = gp.Frame.from_pandas(spark, w).set_index("id")
    got = fw.stack().reset_index().to_pandas().sort_values(["id", "level_1"])
    exp = w.set_index("id").stack().reset_index().sort_values(["id", "level_1"])
    assert got.values.tolist() == exp.values.tolist()
    back = fw.stack().unstack().reset_index().to_pandas().sort_values("id")
    assert np.allclose(back[["p", "q"]].values, w[["p", "q"]].values)
    l = pd.DataFrame({"k": ["a", None, "b"], "x": [1.0, 2.0, 3.0]})
    fl = gp.Frame.from_pandas(spark, l)
    gd = gp.get_dummies(fl, columns=["k"]).to_pandas().sort_values("x")
    ed = pd.get_dummies(l, columns=["k"]).sort_values("x")
    for c in ("k_a", "k_b"):
        assert gd[c].tolist() == ed[c].astype(int).tolist()
    gi = gp.get_dummies(fl).to_pandas()  # object-column inference
    assert sorted(c for c in gi.columns if c.startswith("k_")) == ["k_a", "k_b"]


@pytest.mark.parametrize("n", [-5, -1, 0, 1, 3])
def test_calendar_offsets_anchor_matrix(spark, n):
    """Fuzz-caught: at-anchor and negative-n offset arithmetic must
    match pandas for MonthEnd/MonthBegin/QuarterEnd/YearEnd/BDay."""
    dates = ["2024-01-31", "2024-02-29", "2024-12-31", "2023-02-28",
             "2024-03-01", "2024-06-15", "2024-06-01", "2024-09-30",
             "2024-10-05", "2024-06-08", "2024-06-09"]
    pdd = pd.DataFrame({"d": pd.to_datetime(dates)})
    fd = gp.Frame.from_pandas(spark, pdd)
    offs = [("monthend", pd.offsets.MonthEnd), ("monthbegin", pd.offsets.MonthBegin),
            ("quarterend", pd.offsets.QuarterEnd), ("yearend", pd.offsets.YearEnd)]
    if n != 0:
        offs.append(("b", pd.offsets.BDay))
    for gname, P in offs:
        got = [str(x)[:10] for x in gp.add_offset(fd["d"], n, gname).tolist()]
        exp = [str(x)[:10] for x in (pdd["d"] + P(n)).tolist()]
        assert got == exp, (gname, n, list(zip(dates, got, exp)))


def test_str_extract_nomatch_and_backrefs(spark):
    """Fuzz-caught: extract gives NaN (not '') on no-match; replace
    translates Python \\1 backreferences to Spark's $1 and keeps
    literal dollars."""
    pdf = pd.DataFrame({"s": ["abc123def", "no digits", "", None, "$5 cost"]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f["s"].str.extract(r"(\d+)").tolist()
    exp = [e if isinstance(e, str) else None
           for e in pdf["s"].str.extract(r"(\d+)")[0].tolist()]
    assert got == exp
    got = f["s"].str.replace(r"(\d+)", r"<\1>", regex=True).tolist()
    exp = [e if isinstance(e, str) else None
           for e in pdf["s"].str.replace(r"(\d+)", r"<\1>", regex=True).tolist()]
    assert got == exp
    got = f["s"].str.replace("cost", "price$", regex=True).tolist()
    exp = [e if isinstance(e, str) else None
           for e in pdf["s"].str.replace("cost", "price$", regex=True).tolist()]
    assert got == exp


def test_to_datetime_format_matrix_and_json_normalize_records(spark):
    """Fuzz-caught: %d must accept single digits (Java dd is strict
    2-digit), while adjacent fields (%Y%m%d) need the strict form —
    both patterns are tried. to_datetime takes format= (pandas
    keyword); json_normalize accepts the pandas records form."""
    forms = [("2024-03-05", None), ("05/03/2024", "%d/%m/%Y"),
             ("20240305", "%Y%m%d"), ("Mar 5 2024", "%b %d %Y"),
             ("3/7/2024 9:05:03", "%m/%d/%Y %H:%M:%S")]
    for s, fmt in forms:
        f = gp.Frame.from_pandas(spark, pd.DataFrame({"s": [s]}))
        got = str(gp.to_datetime(f["s"], format=fmt).tolist()[0])
        exp = str(pd.to_datetime(pd.Series([s]), format=fmt).tolist()[0])
        assert got == exp, (s, fmt, got, exp)
    data = [{"a": {"b": 1}, "d": "x"}, {"a": {"b": 2}, "d": "y"}]
    jn = gp.json_normalize(spark, data)
    assert sorted(jn.columns) == ["a_b", "d"]
    assert jn.to_pandas()["a_b"].tolist() == [1, 2]


def test_query_nan_comparison_semantics(spark):
    """pandas query: comparisons with NaN are False, != is True, and
    `not (...)` over them behaves like python booleans — SQL three-
    valued logic must not leak (fuzz-caught, query_expr seed 210251)."""
    pdf = pd.DataFrame({"rid": range(6),
                        "i": [1.0, np.nan, 0.0, 2.0, np.nan, -1.0],
                        "w": [0, 0, 1, 1, 2, 2]})
    f = gp.Frame.from_pandas(spark, pdf).repartition(3)
    for expr in ["i != 0 and not (w == 0)", "not (i < 1)", "i != 1",
                 "not (i in [0, 2])", "i not in [1, 2]"]:
        got = sorted(f.query(expr).to_pandas()["rid"].tolist())
        exp = sorted(pdf.query(expr)["rid"].tolist())
        assert got == exp, (expr, got, exp)
    # eval materializes the boolean: NaN comparisons become False, not NULL
    got = f.eval("m = i > 0").to_pandas().sort_values("rid")["m"].tolist()
    assert got == [True, False, False, True, False, False]


def test_pivot_table_crosstab_drop_nan_keys(spark):
    """pandas groupby drops NaN keys: pivot_table/crosstab must not
    emit a None index row (fuzz-caught, pivot_table_rand seed 210348)."""
    pdf = pd.DataFrame({"k": ["a", "b", None, "a"], "w": [0, 1, 0, None],
                        "v": [1.0, 2.0, 3.0, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.pivot_table(values="v", index="k", columns="w", aggfunc="sum").to_pandas()
    exp = pdf.pivot_table(values="v", index="k", columns="w", aggfunc="sum")
    assert list(got.sort_index().index) == list(exp.sort_index().index)
    ct = gp.crosstab(f, "k", "w").to_pandas()
    keys = (ct[ct.columns[0]].tolist() if ct.columns[0] == "k"
            else list(ct.index))
    assert sorted(keys) == ["a", "b"]


def test_resample_first_last_time_ordered(spark):
    """resample first/last pick by TIME within the bin (ties → frame
    order), not by frame position (fuzz-caught, resample_rand 210043)."""
    # rows arrive out of time order: frame order is [03:50, 03:51] reversed
    pdf = pd.DataFrame({
        "t": pd.to_datetime(["2024-03-02 03:51", "2024-03-02 03:50",
                             "2024-03-02 03:40", np.nan if False else "2024-03-02 03:41"]),
        "v": [-0.469, 0.088, 1.0, 2.0],
    })
    f = gp.Frame.from_pandas(spark, pdf).repartition(2)
    got = f.resample("15min", on="t").agg({"v": ("v", "last")}).to_pandas()
    exp = pdf.set_index("t")["v"].resample("15min").last().dropna()
    assert got.set_index("t")["v"].sort_index().tolist() == exp.sort_index().tolist()
    got_f = f.resample("15min", on="t").agg({"v": ("v", "first")}).to_pandas()
    exp_f = pdf.set_index("t")["v"].resample("15min").first().dropna()
    assert got_f.set_index("t")["v"].sort_index().tolist() == exp_f.sort_index().tolist()
    # ohlc open/close follow time order too
    o = f.resample("15min", on="t").ohlc("v").to_pandas().sort_values("t")
    assert o["open"].tolist() == [1.0, 0.088]
    assert o["close"].tolist() == [2.0, -0.469]


def test_rolling_expanding_skew_kurt_sem(spark):
    """rolling/expanding skew+kurt previously raised MISSING_GROUP_BY
    (compound agg can't take .over as a whole); sem didn't exist.
    Grouped and ungrouped, vs pandas (fuzz-caught, seeds 420563+)."""
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"g": rng.randint(0, 2, 40),
                        "v": rng.normal(0, 5, 40)})
    pdf.loc[rng.choice(40, 8, replace=False), "v"] = np.nan
    f = gp.Frame.from_pandas(spark, pdf).repartition(4)
    for stat in ("skew", "kurt", "sem"):
        got = getattr(f.groupby("g").rolling(7, min_periods=3), stat)(
            cols=["v"]).to_pandas()["v"].to_numpy()
        exp = pdf.groupby("g")["v"].transform(
            lambda s: getattr(s.rolling(7, min_periods=3), stat)()).to_numpy()
        assert np.allclose(np.sort(got[~np.isnan(got)]),
                           np.sort(exp[~np.isnan(exp)])), f"rolling {stat}"
        assert np.isnan(got).sum() == np.isnan(exp).sum(), f"rolling {stat} nans"
        got_e = getattr(f.groupby("g").expanding(min_periods=3), stat)(
            cols=["v"]).to_pandas()["v"].to_numpy()
        exp_e = pdf.groupby("g")["v"].transform(
            lambda s: getattr(s.expanding(min_periods=3), stat)()).to_numpy()
        assert np.allclose(np.sort(got_e[~np.isnan(got_e)]),
                           np.sort(exp_e[~np.isnan(exp_e)])), f"expanding {stat}"
    # cols= must be respected: other columns (incl. rid-like ints) untouched
    pdf2 = pdf.assign(rid=np.arange(40))
    f2 = gp.Frame.from_pandas(spark, pdf2)
    out = f2.groupby("g").expanding(min_periods=1).skew(cols=["v"]).to_pandas()
    assert sorted(out["rid"].tolist()) == list(range(40))
    # ungrouped (blocked distributed path)
    got_u = f[["v"]].rolling(7, min_periods=3).skew().to_pandas()["v"].to_numpy()
    exp_u = pdf["v"].rolling(7, min_periods=3).skew().to_numpy()
    assert np.allclose(np.sort(got_u[~np.isnan(got_u)]),
                       np.sort(exp_u[~np.isnan(exp_u)]))


def test_rolling_count_min_periods_rows(spark):
    """pandas gates count() on ROWS in the window, not non-null
    observations (fuzz-caught, rolling_moments seed 420070)."""
    pdf = pd.DataFrame({"g": [0] * 6, "v": [1.0, np.nan, 2.0, np.nan, np.nan, 3.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.groupby("g").rolling(3, min_periods=2).count(cols=["v"]).to_pandas()["v"].tolist()
    exp = pdf["v"].rolling(3, min_periods=2).count().tolist()
    assert all((np.isnan(a) and np.isnan(b)) or a == b for a, b in zip(got, exp))


def test_groupby_null_keys_shape_preserving(spark):
    """transform/shift/cum*/rank/ffill KEEP null-key rows and emit NaN
    for them under dropna=True (fuzz-caught, groupby_transform
    seed 420439); dropna=False treats null keys as a real group."""
    pdf = pd.DataFrame({"k": ["a", None, "a", None, "b"],
                        "v": [1.0, 7.0, 3.0, np.nan, 5.0]})
    f = gp.Frame.from_pandas(spark, pdf).repartition(3)
    cases = {
        "transform_sum": (lambda g: g.transform("sum", cols=["v"]),
                          lambda p: p.groupby("k")["v"].transform("sum")),
        "shift": (lambda g: g.shift(1, cols=["v"]),
                  lambda p: p.groupby("k")["v"].shift(1)),
        "cumsum": (lambda g: g.cumsum(cols=["v"]),
                   lambda p: p.groupby("k")["v"].cumsum()),
        "rank": (lambda g: g.rank(cols=["v"]),
                 lambda p: p.groupby("k")["v"].rank()),
        "ffill": (lambda g: g.ffill(cols=["v"]),
                  lambda p: p.groupby("k")["v"].ffill()),
    }
    for name, (gfn, pfn) in cases.items():
        got = gfn(f.groupby("k")).to_pandas()["v"]
        exp = pfn(pdf)
        assert len(got) == len(pdf), f"{name}: dropped rows"
        g = sorted(got.dropna().tolist())
        e = sorted(exp.dropna().tolist())
        assert np.allclose(g, e) and got.isna().sum() == exp.isna().sum(), \
            (name, got.tolist(), exp.tolist())
    # SeriesGroupBy expression form masks too
    got = f.assign(o=f.groupby("k")["v"].transform("sum")).to_pandas()
    m = got.set_index(got["v"].fillna(-99))["o"]
    assert np.isnan(m.loc[7.0])  # null-key row
    # cumcount returns NaN for null-key rows (float like pandas)
    cc = f.groupby("k").cumcount().to_pandas()["cumcount"]
    assert cc.isna().sum() == 2
    # dropna=False: null keys form a group
    got_nf = f.groupby("k", dropna=False).transform("sum", cols=["v"]).to_pandas()["v"]
    exp_nf = pdf.groupby("k", dropna=False)["v"].transform("sum")
    assert sorted(got_nf.tolist()) == sorted(exp_nf.tolist())


def test_value_counts_dropna_and_rfind_null(spark):
    pdf = pd.DataFrame({"x": [1.0, 1.0, np.nan, 2.0, np.nan, np.nan],
                        "s": ["foo", None, "oof", "f", None, "ooo"]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f["x"].value_counts(dropna=False)
    gp_ = got.to_pandas() if hasattr(got, "to_pandas") else got
    if isinstance(gp_, pd.DataFrame):
        gp_ = gp_.set_index(gp_.columns[0]).iloc[:, 0]
    assert sorted(gp_.tolist()) == [1, 2, 3]
    got_t = f["x"].value_counts(dropna=True)
    gt = got_t.to_pandas() if hasattr(got_t, "to_pandas") else got_t
    if isinstance(gt, pd.DataFrame):
        gt = gt.set_index(gt.columns[0]).iloc[:, 0]
    assert sorted(gt.tolist()) == [1, 2]
    # normalize denominator excludes dropped nulls
    gn = f["x"].value_counts(normalize=True, dropna=True)
    gn = gn.to_pandas() if hasattr(gn, "to_pandas") else gn
    if isinstance(gn, pd.DataFrame):
        gn = gn.set_index(gn.columns[0]).iloc[:, 0]
    assert abs(sum(gn.tolist()) - 1.0) < 1e-12
    # str.rfind: null in, null out (not -1)
    out = f.assign(o=f["s"].str.rfind("o")).to_pandas()["o"]
    exp = pdf["s"].str.rfind("o")
    assert all((pd.isna(a) and pd.isna(b)) or a == b
               for a, b in zip(out.tolist(), exp.tolist()))


def test_dt_floor_counted_freq_and_round_half_even(spark):
    """floor('15min') NaT'd every row (date_trunc has no counted
    units — fuzz-caught, dt_floor_round seed 170684); round follows
    pandas half-to-EVEN on the multiple, not Spark's half-up."""
    pdf = pd.DataFrame({"t": pd.to_datetime([
        "1981-07-27 14:22:33", "2007-01-18 04:55:21", "1965-03-02 07:31:45",
        "2024-01-01 00:00:15", "2024-01-01 00:00:45",
        "2024-01-01 00:01:15", "2024-01-01 00:01:45"])})
    f = gp.Frame.from_pandas(spark, pdf)
    for op in ("floor", "ceil", "round"):
        for freq in ("15min", "30s", "1h", "2d"):
            got = f.assign(o=getattr(f["t"].dt, op)(freq)).to_pandas()["o"].tolist()
            exp = getattr(pdf["t"].dt, op)(freq).tolist()
            assert got == exp, (op, freq, got, exp)


def test_pivot_table_sum_all_null_cell(spark):
    """A (index, column) cell whose rows are ALL NaN sums to 0.0
    (pandas min_count=0); a combination with NO rows stays NaN
    (fuzz-caught, pivot_table_rand seed 2020348)."""
    pdf = pd.DataFrame({"k": ["a", "a", "b"], "w": [0, 1, 1],
                        "v": [1.0, np.nan, np.nan]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = f.pivot_table(values="v", index="k", columns="w", aggfunc="sum").to_pandas().sort_index()
    exp = pdf.pivot_table(values="v", index="k", columns="w", aggfunc="sum").sort_index()
    got.columns = [str(c) for c in got.columns]
    exp.columns = [str(c) for c in exp.columns]
    for c in exp.columns:
        for a, b in zip(got[c], exp[c]):
            assert (pd.isna(a) and pd.isna(b)) or a == b, (c, got, exp)


def test_at_time_between_time_index_form(spark):
    """pandas form: at_time/between_time over the datetime INDEX with
    no on=, and 'HH:MM' short time strings (fuzz-caught exception,
    time_selection seed 190771)."""
    pdf = pd.DataFrame({"t": pd.to_datetime([
        "2024-03-01 03:30:00", "2024-03-01 05:00:00",
        "2024-03-01 05:00:30", "2024-03-01 14:30:00"]),
        "v": [1.0, 2.0, 3.0, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf).set_index("t")
    got = sorted(f.at_time("03:30").to_pandas()["v"].tolist())
    assert got == sorted(pdf.set_index("t").at_time("03:30")["v"].tolist())
    got_bt = sorted(f.between_time("03:00", "05:00").to_pandas()["v"].tolist())
    exp_bt = sorted(pdf.set_index("t").between_time("03:00", "05:00")["v"].tolist())
    # end minute: 05:00:00 included, 05:00:30 excluded — exact pandas rule
    assert got_bt == exp_bt == [1.0, 2.0]


# ---------------- round-6 ADVICE regression fixes ----------------

def test_flex_op_fill_value_both_null_stays_nan(spark):
    """ADVICE r5: add(fill_value=0) must keep NaN where BOTH frames are
    missing (pandas fill_binop fills one-sided holes only)."""
    pa = pd.DataFrame({"a": [1.0, None, None], "b": [1.0, 2.0, 3.0]})
    pb = pd.DataFrame({"a": [10.0, None, 5.0], "b": [1.0, 1.0, 1.0]})
    exp = pa.add(pb, fill_value=0)
    got = (gp.Frame.from_pandas(spark, pa)
           .add(gp.Frame.from_pandas(spark, pb), fill_value=0).to_pandas())
    assert np.allclose(got["a"].to_numpy(), exp["a"].to_numpy(), equal_nan=True)
    assert np.allclose(got["b"].to_numpy(), exp["b"].to_numpy(), equal_nan=True)


def test_flex_op_scalar_fill_value_fills_frame_nans(spark):
    """ADVICE r5: the scalar path must apply fill_value to the frame's
    own NULLs before the op (pandas fills left side, then operates)."""
    pa = pd.DataFrame({"a": [1.0, None, 3.0]})
    exp = pa.add(5, fill_value=0)
    got = gp.Frame.from_pandas(spark, pa).add(5, fill_value=0).to_pandas()
    assert list(got["a"]) == list(exp["a"]) == [6.0, 5.0, 8.0]


def test_flex_cmp_numpy_scalar_unwrapped(spark):
    """ADVICE r5: df.eq(np.int64(5)) must compare values, not fall into
    the type-incompatible all-False branch."""
    pa = pd.DataFrame({"a": [5.0, 1.0], "s": ["x", "y"]})
    f = gp.Frame.from_pandas(spark, pa)
    assert list(f.eq(np.int64(5)).to_pandas()["a"]) == [True, False]
    assert list(f.ne(np.float64(5.0)).to_pandas()["a"]) == [False, True]
    assert list(f.eq(np.bool_(True)).to_pandas()["a"]) == [False, False]


def test_series_groupby_pct_change_zero_division_and_negative_periods(spark):
    """ADVICE r5: SeriesGroupBy.pct_change must route through
    pct_change_col (0-division → ±inf / NaN) and honor periods<0."""
    pdf = pd.DataFrame({"k": ["x", "x", "x", "y", "y"],
                        "v": [0.0, 2.0, 0.0, -3.0, 0.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    for periods in (1, -1):
        got = f.groupby("k")["v"].pct_change(periods=periods).to_pandas().to_numpy()
        exp = pdf.groupby("k")["v"].pct_change(periods=periods).to_numpy()
        assert np.allclose(got, exp, equal_nan=True), (periods, got, exp)


def test_value_counts_bins_degenerate_inputs(spark):
    """ADVICE r5: value_counts(bins=N) on empty/all-null must not crash,
    and a constant series must keep every row in a (widened) bin."""
    fe = gp.Frame.from_pandas(spark, pd.DataFrame({"v": pd.array([None, None], dtype="float64")}))
    assert len(fe["v"].value_counts(bins=3).to_pandas()) == 0
    fc = gp.Frame.from_pandas(spark, pd.DataFrame({"v": [5.0, 5.0, 5.0]}))
    out = fc["v"].value_counts(bins=2).to_pandas()
    assert out["count"].sum() == 3


def test_groupby_mixed_agg_dropna_false_keeps_null_key(spark):
    """ADVICE r5: mixing callable + JVM aggregates with dropna=False
    must keep the null-key group (null-safe join between the halves)."""
    pdf = pd.DataFrame({"k": ["a", None, "a", None], "v": [1.0, 2.0, 3.0, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    got = (f.groupby("k", dropna=False)
           .agg(s=("v", "sum"), m=("v", lambda s: s.max()))
           .to_pandas().sort_values("s").reset_index(drop=True))
    exp = (pdf.groupby("k", dropna=False)["v"].agg(["sum", "max"])
           .sort_values("sum").reset_index(drop=True))
    assert list(got["s"]) == list(exp["sum"])
    assert list(got["m"]) == list(exp["max"])


def test_kendall_guard_refuses_oversized_input(spark, monkeypatch):
    """VERDICT r5: exact Kendall funnels one task by construction —
    past the size guard it must refuse with actionable alternatives,
    not hang one executor. Under the limit it still answers."""
    from go_pandas_spark.operators import aggregates

    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0], "y": [2.0, 1.0, 4.0, 3.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    monkeypatch.setattr(aggregates, "_KENDALL_GLOBAL_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="spearman"):
        f.corr(method="kendall")
    monkeypatch.setattr(aggregates, "_KENDALL_GLOBAL_MAX_ROWS", 5_000_000)
    got = f.corr(method="kendall")
    # tau-b by hand: 4 concordant, 2 discordant, no ties → 2/6
    assert abs(got.loc["x", "y"] - 1.0 / 3.0) < 1e-12


def test_division_by_zero_pandas_semantics(spark):
    """Spark's Divide returns NULL on a zero divisor; pandas yields
    ±inf by the numerator's sign and NaN for 0/0 — on the dunder, the
    flex form (where fill_value=0 guarantees zero divisors), scalars,
    and the float floordiv path (fuzz-caught, seed 6060537)."""
    pdf = pd.DataFrame({"rid": range(6),
                        "i": [5.0, -3.0, 0.0, np.nan, 2.0, 1.0],
                        "v": [0.0, 0.0, 0.0, 0.0, np.nan, 4.0]})
    f = gp.Frame.from_pandas(spark, pdf)

    def got(expr):
        return expr.to_frame("o").to_pandas()["o"].to_numpy().astype(float)

    for op in ("div", "truediv", "floordiv", "rdiv", "rfloordiv"):
        for fv in (None, 0.0):
            g = f.assign(o=getattr(f["i"], op)(f["v"], fill_value=fv)) \
                .to_pandas().sort_values("rid")["o"].to_numpy().astype(float)
            e = getattr(pdf["i"], op)(pdf["v"], fill_value=fv).to_numpy()
            assert np.allclose(g, e, equal_nan=True), (op, fv, g, e)
    assert np.allclose(got(f["i"] / 0), (pdf["i"] / 0).to_numpy(), equal_nan=True)
    assert np.allclose(got(2 / f["v"]), (2 / pdf["v"]).to_numpy(), equal_nan=True)
    assert np.allclose(got(f["i"] // f["v"]),
                       (pdf["i"] // pdf["v"]).to_numpy(), equal_nan=True)
    e = pdf[["i", "v"]].div(0).to_numpy()
    g = f[["i", "v"]].div(0).to_pandas()[["i", "v"]].to_numpy()
    assert np.allclose(g, e, equal_nan=True)


def test_int_by_zero_division_matrix(spark):
    """Int ÷ zero rules: int-Series ÷ int-Series keeps numpy's int
    result (0 for // and %); scalar-involved zero division is masked
    to float ±inf/NaN (pandas mask_zero_div_zero) — a literal 0
    divisor, or a literal numerator over a Series divisor."""
    pdf = pd.DataFrame({"rid": range(6), "i": [5, -3, 0, 7, 2, 1],
                        "z": [0, 0, 0, 2, -3, 4]})
    f = gp.Frame.from_pandas(spark, pdf)
    for op in ("floordiv", "mod", "rfloordiv", "rmod"):
        g = f.assign(o=getattr(f["i"], op)(f["z"])) \
            .to_pandas().sort_values("rid")["o"].to_numpy().astype(float)
        e = getattr(pdf["i"], op)(pdf["z"]).to_numpy().astype(float)
        assert np.allclose(g, e, equal_nan=True), (op, g, e)
        for sc in (0, 7, -3):
            g = f.assign(o=getattr(f["i"], op)(sc)) \
                .to_pandas().sort_values("rid")["o"].to_numpy().astype(float)
            e = getattr(pdf["i"], op)(sc).to_numpy().astype(float)
            assert np.allclose(g, e, equal_nan=True), (op, sc, g, e)
    for expr, exp in ((f["i"] // 0, pdf["i"] // 0), (f["i"] % 0, pdf["i"] % 0),
                      (7 // f["i"], 7 // pdf["i"]), (7 % f["i"], 7 % pdf["i"])):
        g = expr.to_frame("o").to_pandas()["o"].to_numpy().astype(float)
        assert np.allclose(g, exp.to_numpy().astype(float), equal_nan=True)


def test_frame_floordiv_mod_zero_matrix(spark):
    """Frame // and % zero rules differ from Series: frame ÷ frame
    masks int zero-division to float ±inf/NaN — EXCEPT under
    fill_value, where pandas' fill_binop routes back to numpy int
    semantics (0). A scalar operand stays masked even with fill_value;
    only a literal non-zero int divisor keeps the int dtype."""
    pdf = pd.DataFrame({"a": [5, -3, 0, 7], "b": [0, 2, 0, -3],
                        "x": [5.0, -3.0, 0.0, 7.0]})
    oth = pd.DataFrame({"a": [0, 2, -3, 0], "b": [1, 0, 2, 0],
                        "x": [0.0, 2.0, 0.0, 1.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    g = gp.Frame.from_pandas(spark, oth)
    cols = ["a", "b", "x"]
    for op in ("floordiv", "mod", "rfloordiv", "rmod", "div", "rdiv"):
        cases = [(getattr(f, op)(g), getattr(pdf, op)(oth)),
                 (getattr(f, op)(g, fill_value=0), getattr(pdf, op)(oth, fill_value=0)),
                 (getattr(f, op)(g, fill_value=1), getattr(pdf, op)(oth, fill_value=1))]
        cases += [(getattr(f, op)(sc), getattr(pdf, op)(sc)) for sc in (0, 3, 2.0)]
        for got, exp in cases:
            ga = got.to_pandas()[cols].to_numpy().astype(float)
            ea = exp[cols].to_numpy().astype(float)
            assert np.allclose(ga, ea, equal_nan=True), (op, ga, ea)


def test_int_dunder_vs_flex_zero_divergence(spark):
    """pandas dunders (`//`, `%`, divmod) mask int zero-division to
    float ±inf/NaN even for int-Series pairs; only the FLEX methods
    (.floordiv/.mod) keep numpy's int 0 — and the engine mirrors the
    divergence (review finding)."""
    pdf = pd.DataFrame({"rid": range(4), "i": [5, -3, 0, 7], "z": [0, 0, 0, 2]})
    f = gp.Frame.from_pandas(spark, pdf)

    def run(expr):
        return expr.to_frame("o").to_pandas()["o"].to_numpy().astype(float)

    assert np.allclose(run(f["i"] // f["z"]),
                       (pdf["i"] // pdf["z"]).to_numpy(), equal_nan=True)
    assert np.allclose(run(f["i"] % f["z"]),
                       (pdf["i"] % pdf["z"]).to_numpy(), equal_nan=True)
    d, m = divmod(f["i"], f["z"])
    ed, em = divmod(pdf["i"], pdf["z"])
    assert np.allclose(run(d), ed.to_numpy(), equal_nan=True)
    assert np.allclose(run(m), em.to_numpy(), equal_nan=True)
    # flex .divmod keeps numpy int semantics like .floordiv/.mod
    # (ADVICE r6: it must NOT ride the masked dunder pair)
    fd, fm = f["i"].divmod(f["z"])
    efd, efm = pdf["i"].divmod(pdf["z"])
    assert np.allclose(run(fd), efd.to_numpy().astype(float))
    assert np.allclose(run(fm), efm.to_numpy().astype(float))
    # flex keeps numpy int semantics
    assert f.assign(o=f["i"].floordiv(f["z"])).to_pandas()["o"].tolist() \
        == pdf["i"].floordiv(pdf["z"]).tolist()
    assert f.assign(o=f["i"].mod(f["z"])).to_pandas()["o"].tolist() \
        == pdf["i"].mod(pdf["z"]).tolist()


def test_frame_arithmetic_dunders(spark):
    """`df * 2`, `2 * df`, `df > 0`, `-df`, `abs(df)` — pandas installs
    the special methods on DataFrame too; they delegate to the flex
    methods (zero-division and alignment rules included)."""
    pdf = pd.DataFrame({"a": [5.0, -3.0, 0.0, 7.0], "b": [1.0, 2.0, 0.0, -3.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    cases = [(f * 2, pdf * 2), (2 * f, 2 * pdf), (f / 2, pdf / 2),
             (f + 1, pdf + 1), (1 - f, 1 - pdf), (f // 2, pdf // 2),
             (f % 3, pdf % 3), (f ** 2, pdf ** 2), (-f, -pdf),
             (abs(f), abs(pdf)), (f / f, pdf / pdf)]
    for got, exp in cases:
        ga = got.to_pandas()[["a", "b"]].to_numpy().astype(float)
        assert np.allclose(ga, exp[["a", "b"]].to_numpy(), equal_nan=True)
    for got, exp in [(f > 0, pdf > 0), (f == 0.0, pdf == 0.0), (f != 1.0, pdf != 1.0)]:
        ga = got.to_pandas()[["a", "b"]].to_numpy()
        assert (ga == exp.to_numpy()).all()
    assert f in {f}  # identity hash preserved (frames stay set-usable)


def test_frame_logical_and_unary_dunders(spark):
    """(df > 0) & (df < 5), |, ^ (boolean xor = inequality), ~ on
    boolean and int frames, +df, round(df) — the rest of pandas'
    special-method surface on DataFrame."""
    pdf = pd.DataFrame({"a": [5.0, -3.0, 0.5], "b": [1, 2, -3]})
    f = gp.Frame.from_pandas(spark, pdf)

    def arr(g):
        return g.to_pandas()[["a", "b"]].to_numpy()

    m1, m2 = f > 0, f < 4
    p1, p2 = pdf > 0, pdf < 4
    assert (arr(m1 & m2) == (p1 & p2).to_numpy()).all()
    assert (arr(m1 | m2) == (p1 | p2).to_numpy()).all()
    assert (arr(m1 ^ m2) == (p1 ^ p2).to_numpy()).all()
    assert (arr(~m1) == (~p1).to_numpy()).all()
    assert np.allclose(arr(+f), (+pdf).to_numpy())
    assert np.allclose(arr(round(f, 0)), round(pdf, 0).to_numpy())
    ip = pd.DataFrame({"x": [1, -2, 3]})
    fi = gp.Frame.from_pandas(spark, ip)
    assert (~fi).to_pandas()["x"].tolist() == (~ip)["x"].tolist()
    with pytest.raises(TypeError, match="unary ~"):
        ~f
    s = f["a"]
    assert np.allclose(abs(s).to_frame("o").to_pandas()["o"], abs(pdf["a"]))
    assert np.allclose(round(s, 1).to_frame("o").to_pandas()["o"], round(pdf["a"], 1))


def test_frame_logic_scalar_and_bitwise(spark):
    """ADVICE r6: (1) bool scalars on boolean frames must apply
    elementwise (`mask & False` was a silent no-op through _flex_op's
    numeric-only scalar path); (2) `&`/`|`/`^` on integer frames are
    numpy bitwise ops, not an analysis error / boolean inequality."""
    m = pd.DataFrame({"a": [True, False], "b": [False, True]})
    fm = gp.Frame.from_pandas(spark, m)

    def arr(g, cols):
        return g.to_pandas()[cols].to_numpy()

    ab = ["a", "b"]
    assert (arr(fm & False, ab) == (m & False).to_numpy()).all()
    assert (arr(fm | True, ab) == (m | True).to_numpy()).all()
    assert (arr(fm ^ True, ab) == (m ^ True).to_numpy()).all()
    assert (arr(True & fm, ab) == (True & m).to_numpy()).all()
    ip = pd.DataFrame({"x": [5, 12, -3], "y": [3, 10, 7]})
    fi = gp.Frame.from_pandas(spark, ip)
    xy = ["x", "y"]
    assert (arr(fi & 6, xy) == (ip & 6).to_numpy()).all()
    assert (arr(fi | 1, xy) == (ip | 1).to_numpy()).all()
    assert (arr(fi ^ 255, xy) == (ip ^ 255).to_numpy()).all()
    assert (arr(fi ^ fi, xy) == (ip ^ ip).to_numpy()).all()
    assert (arr(fi & fi, xy) == (ip & ip).to_numpy()).all()
    with pytest.raises(TypeError, match="unsupported operand"):
        gp.Frame.from_pandas(spark, pd.DataFrame({"f": [1.5]})) & True
    with pytest.raises(TypeError, match="unsupported operand"):
        fm & 1.5


def test_floordiv_nonfinite_quotient_passthrough(spark):
    """ADVICE r6: NaN/±inf already in a double column floordiv'd by a
    NON-zero divisor must stay NaN/±inf (Spark floor(NaN)→0 and
    floor(±inf) clamps to the long range)."""
    inf = float("inf")
    pdf = pd.DataFrame({"v": [float("nan"), inf, -inf, 7.0, -7.0, 0.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    for dvr in (2, -2.0, inf, -inf, float("nan")):
        got = (f["v"] // dvr).to_frame("o").to_pandas()["o"].to_numpy()
        exp = (pdf["v"] // dvr).to_numpy()
        assert np.allclose(got, exp, equal_nan=True), (dvr, got, exp)
        got2 = f["v"].floordiv(dvr).to_frame("o").to_pandas()["o"].to_numpy()
        assert np.allclose(got2, pdf["v"].floordiv(dvr).to_numpy(),
                           equal_nan=True), dvr


def test_truth_value_ambiguous_raises(spark):
    pdf = pd.DataFrame({"a": [1.0, 2.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    with pytest.raises(ValueError, match="ambiguous"):
        bool(f)
    with pytest.raises(ValueError, match="ambiguous"):
        bool(f["a"])
    with pytest.raises(ValueError, match="ambiguous"):
        if f["a"]:  # the classic `if mask:` mistake
            pass


def test_negative_zero_divisor_sign(spark):
    """numpy keeps the divisor's sign bit: 1/-0.0 = -inf. Spark
    comparisons normalize -0.0 == 0.0, so the zero-division mask
    recovers the sign via Math.pow(b, -1) (signum of it), closing the
    COVERAGE residue. Covers /, //, rdiv by Series, and pct_change
    over a -0.0 predecessor."""
    pdf = pd.DataFrame({"rid": range(6),
                        "a": [1.0, -1.0, 0.0, np.nan, 5.0, -2.0],
                        "z": [-0.0, -0.0, -0.0, -0.0, 0.0, -0.0]})
    f = gp.Frame.from_pandas(spark, pdf)
    for op in ("div", "floordiv", "rdiv"):
        g = (f.assign(o=getattr(f["a"], op)(f["z"]))
             .to_pandas().sort_values("rid")["o"].to_numpy().astype(float))
        e = getattr(pdf["a"], op)(pdf["z"]).to_numpy().astype(float)
        assert np.allclose(g, e, equal_nan=True), (op, g, e)
    # scalar -0.0 divisor
    g = (f["a"] / -0.0).to_frame("o").to_pandas()["o"].to_numpy()
    e = (pdf["a"] / -0.0).to_numpy()
    assert np.allclose(g, e, equal_nan=True), (g, e)
    # pct_change across a -0.0 predecessor
    s = pd.DataFrame({"rid": range(5), "v": [-0.0, 5.0, -3.0, -0.0, -2.0]})
    fs = gp.Frame.from_pandas(spark, s).sort_values("rid")
    g = fs.assign(o=fs["v"].pct_change()).to_pandas().sort_values("rid")["o"].to_numpy()
    e = s["v"].pct_change().to_numpy()
    assert np.allclose(g, e, equal_nan=True), (g, e)


def test_reduction_ddof_matrix(spark):
    """var/std/sem/cov with ARBITRARY ddof on Series, Frame and
    groupby reductions (r8: ddof not in (0,1) silently returned the
    population statistic before). Contracts: var = Sxx/(n-ddof) with
    NaN when n <= ddof; sem = std(ddof)/sqrt(n) (nanops.nansem); cov
    follows np.cov's clamped factor at n <= ddof (sign(Sxy)*inf)."""
    rng = np.random.RandomState(6)
    n = 80
    pdf = pd.DataFrame({"k": np.arange(n), "g": np.arange(n) % 4,
                        "a": rng.normal(3, 2, n), "b": rng.normal(-1, 4, n)})
    pdf.loc[rng.rand(n) < 0.2, "a"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf)).sort_values("k")

    def same(x, y):
        x = np.nan if x is None else x
        return (np.isclose(x, y, rtol=1e-12, equal_nan=True)
                or (np.isinf(x) and np.isinf(y) and np.sign(x) == np.sign(y)))

    for ddof in (0, 1, 2, 3, 79):
        assert same(f["a"].var(ddof=ddof), pdf["a"].var(ddof=ddof)), ddof
        assert same(f["a"].std(ddof=ddof), pdf["a"].std(ddof=ddof)), ddof
        assert same(f["a"].sem(ddof=ddof), pdf["a"].sem(ddof=ddof)), ddof
        assert same(f["a"].cov(f["b"], ddof=ddof),
                    pdf["a"].cov(pdf["b"], ddof=ddof)), ddof
    for ddof in (0, 2, 3):
        got = f[["a", "b"]].var(ddof=ddof)
        exp = pdf[["a", "b"]].var(ddof=ddof)
        assert all(same(got[c], exp[c]) for c in ("a", "b")), ddof
        got = f[["a", "b"]].std(ddof=ddof)
        exp = pdf[["a", "b"]].std(ddof=ddof)
        assert all(same(got[c], exp[c]) for c in ("a", "b")), ddof
    for ddof in (0, 2, 16):
        for stat in ("var", "std", "sem"):
            got = (getattr(f.groupby("g"), stat)(ddof=ddof)
                   .to_pandas().sort_values("g")[["a", "b"]].to_numpy())
            exp = getattr(pdf.groupby("g"), stat)(ddof=ddof)[["a", "b"]].to_numpy()
            assert np.allclose(got, exp, rtol=1e-12, equal_nan=True), (stat, ddof)


@pytest.mark.parametrize("direction,tolerance,allow_exact", [
    ("nearest", None, True), ("nearest", "45min", False),
    ("backward", "1h", True), ("forward", None, False),
])
def test_merge_asof_noby_matrix_matches_pandas(spark, sf_dir, direction,
                                               tolerance, allow_exact):
    """No-``by`` as-of joins ride the blocked running-pick kernel;
    nearest computes BOTH directions in ONE pass since r9 (per-pick
    orderings sharing the block exchange)."""
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    left = ev[ev["event_type"] == "click"][["ts", "event_id"]].sort_values("ts")
    right = ev[ev["event_type"] == "purchase"][["ts", "value"]].rename(
        {"value": "pv"}).sort_values("ts")
    got = gp.merge_asof(left, right, on="ts", direction=direction,
                        tolerance=tolerance,
                        allow_exact_matches=allow_exact).to_pandas()
    lp = left.to_pandas().sort_values("ts").reset_index(drop=True)
    rp = right.to_pandas().sort_values("ts").reset_index(drop=True)
    tol = pd.Timedelta(tolerance) if tolerance else None
    exp = pd.merge_asof(lp, rp, on="ts", direction=direction,
                        tolerance=tol, allow_exact_matches=allow_exact)
    g = got.sort_values("event_id")["pv"].to_numpy()
    e = exp.sort_values("event_id")["pv"].to_numpy()
    assert np.allclose(g, e, equal_nan=True)


def test_unstack_numeric_categories_keep_numeric_order(spark):
    """ADVICE r12 #1: Spark's pivot emits categories type-aware sorted
    (numeric 1,2,...,12); _relabel_pivoted must NOT re-sort them as
    strings ('1','10','11','12','2',...). pd-diff on a 12-category
    numeric pivot level with two value columns."""
    from go_pandas_spark.operators.reshape import unstack

    pdf = pd.DataFrame({
        "g": [i % 4 for i in range(48)],
        "m": [(i % 12) + 1 for i in range(48)],
        "v": np.arange(48, dtype=float),
        "w": np.arange(48, dtype=float) * 2,
    })
    agg = gp.Frame.from_pandas(spark, pdf).groupby(
        ["g", "m"], as_index=False).agg(v=("v", "mean"), w=("w", "mean"))
    wide = unstack(agg, "m", ["v", "w"], "g").to_pandas().sort_index()
    exp = pdf.groupby(["g", "m"], as_index=False) \
        .agg(v=("v", "mean"), w=("w", "mean")) \
        .pivot_table(values=["v", "w"], index="g", columns="m")
    assert [(a, str(b)) for a, b in exp.columns] == \
        [(a, str(b)) for a, b in wide.columns]
    np.testing.assert_allclose(wide.to_numpy(), exp.sort_index().to_numpy(),
                               rtol=1e-12)
