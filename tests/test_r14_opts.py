"""Focused tests for the r14 optimization round's internals:

- the aligned zero-shuffle layout's row cap as a HARD precondition
  (VERDICT r13 #2 — the skew hole),
- merge_asof's struct-key fast carries (VERDICT r13 #3),
- the fused approx-median grid pass (VERDICT r13 #4),
- the zero-jobs-guarded suite plan memo (VERDICT r13 #6) and the
  session-token cache keys (VERDICT r13 #8),
- the grouped-EWM cython kernel's bit-identity (VERDICT r13 #9),
- the one table-attach size rule: a sparse sid table is broadcast
  (ADVICE r13).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import go_pandas_spark as gp
from go_pandas_spark import _internal as I


def test_aligned_rows_cap_is_hard_precondition(spark, monkeypatch):
    """r13's gate OR'ed the row cap with `len(stats) >= n_blocks`, so a
    layout with MANY sids but one oversized partition skipped the cap
    and _by_block concatenated a whole physical partition into one
    pandas frame. The cap must bind unconditionally: oversized sids →
    fall back to the subdividing groupBy layout, results unchanged."""
    from go_pandas_spark.operators import distwindow as dw

    # The premise (>= 10 sids) must not depend on the host: sort_values'
    # range exchange has spark.sql.shuffle.partitions partitions (the
    # core count by default) and AQE may coalesce them, so both are
    # pinned for the test and restored afterwards.
    conf = {"spark.sql.shuffle.partitions": "20",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        rng = np.random.RandomState(7)
        n = 2_000
        base = pd.DataFrame({"k": np.arange(n), "v": rng.normal(2, 1, n)})
        f = gp.Frame(spark.createDataFrame(base).repartition(20)).sort_values("k")
        sdf = f._sdf
        oc = F.col(I.ORDER_COL)
        stats, phys = dw.collect_sid_layout(sdf, oc)
        assert phys and stats and len(stats) >= 10  # many sids...
        biggest = max(c for _b, c, _l, _h in stats)

        # default cap: aligned engages (the r13 fast path is intact)
        _, aligned, nb_est = dw._blocked_base(sdf, oc, None, True)
        assert aligned and nb_est == len(stats)

        # cap below the biggest sid: aligned must refuse even though the
        # sid count exceeds the target parallelism (the r13 hole)
        monkeypatch.setattr(dw, "_ALIGNED_ROWS_CAP", biggest - 1)
        base2, aligned2, _ = dw._blocked_base(sdf, oc, None, True)
        assert not aligned2
        # and the fallback layout still computes the right answer
        out = dw.ewm_blocked(sdf, oc, [("mean", "v", "v", "v")], alpha=0.3,
                             adjust=True, ignore_na=False)
        got = out.toPandas().sort_values("k")["v"].to_numpy()
        exp = base["v"].ewm(alpha=0.3).mean().to_numpy()
        assert np.allclose(got, exp, rtol=1e-8, equal_nan=True)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_merge_asof_noby_struct_fast_carry(spark, monkeypatch):
    """The no-by as-of join derives cross-block carries with ONE
    max_by/min_by(struct(on, right order)) aggregate when the input
    clears the cost threshold — the lazy-carry machinery (per-pick
    row_number windows + edge filter + global carry window) must then
    be gone from the plan, and every direction must still match
    pandas, including rows whose match sits in an EARLIER block (the
    carry itself), null payloads and exact-match toggles. Below the
    threshold the lazy strategy stays and must agree."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(11)
    nl, nr = 4_000, 800
    lts = np.sort(rng.randint(0, 1_000_000, nl))
    rts = np.sort(rng.randint(0, 1_000_000, nr))
    lpdf = pd.DataFrame({"ts": lts, "lv": np.arange(nl, dtype="float64")})
    rpdf = pd.DataFrame({"ts": rts, "pv": rng.normal(0, 1, nr)})
    rpdf.loc[rng.rand(nr) < 0.2, "pv"] = np.nan  # matched-row NaN stays
    lf = gp.Frame(spark.createDataFrame(lpdf).repartition(8)).sort_values("ts")
    rf = gp.Frame(spark.createDataFrame(rpdf).repartition(8)).sort_values("ts")

    for min_rows, expect_fast in ((0, True), (10**9, False)):
        monkeypatch.setattr(dw, "_CARRY_FAST_MIN_ROWS", min_rows)
        for direction in ("backward", "forward", "nearest"):
            for exact in (True, False):
                m = gp.merge_asof(lf, rf, on="ts", direction=direction,
                                  allow_exact_matches=exact)
                plan = m._sdf._jdf.queryExecution().executedPlan().toString()
                assert ("row_number" not in plan) == expect_fast, \
                    (min_rows, direction, exact)
                got = (m[["ts", "lv", "pv"]].to_pandas()
                       .sort_values("lv").reset_index(drop=True))
                exp = pd.merge_asof(lpdf, rpdf, on="ts", direction=direction,
                                    allow_exact_matches=exact)
                assert np.allclose(got["pv"].to_numpy(),
                                   exp["pv"].to_numpy(),
                                   equal_nan=True), (direction, exact)


def test_fused_median_grid_paths(spark, monkeypatch):
    """The fused grid pass must (a) return the EXACT lower order
    statistic when the distinct values fit the grid, (b) keep the
    rank contract on high-cardinality data through the exact
    equi-depth branch, and (c) agree with the classic
    percentile_approx path (a zero _MEDIAN_FUSE_BUDGET) on (a)."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(3)
    n = 6_000
    # (a) low cardinality: 23 distinct values, some null
    base = pd.DataFrame({"k": np.arange(n),
                         "v": (rng.randint(0, 23, n)).astype("float64")})
    base.loc[rng.rand(n) < 0.2, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(base).repartition(8)).sort_values("k")
    oc = F.col(I.ORDER_COL)
    exp = base["v"].expanding(min_periods=2).quantile(
        0.5, interpolation="lower").to_numpy()

    out = dw.expanding_quantile_approx_blocked(f._sdf, oc, ["v"], 0.5,
                                               min_periods=2)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    assert np.array_equal(got, exp, equal_nan=True)

    # (c) classic path returns the same answers on grid-complete data
    monkeypatch.setattr(dw, "_MEDIAN_FUSE_BUDGET", 0)
    out0 = dw.expanding_quantile_approx_blocked(f._sdf, oc, ["v"], 0.5,
                                                min_periods=2)
    got0 = out0.toPandas().sort_values("k")["v"].to_numpy()
    assert np.array_equal(got0, exp, equal_nan=True)
    monkeypatch.undo()

    # (b) high cardinality at a small grid: equi-depth branch; every
    # answer is a real data value whose prefix rank reaches k
    base2 = pd.DataFrame({"k": np.arange(n), "v": rng.normal(0, 5, n)})
    f2 = gp.Frame(spark.createDataFrame(base2).repartition(8)).sort_values("k")
    out2 = dw.expanding_quantile_approx_blocked(f2._sdf, oc, ["v"], 0.5,
                                                n_grid=64, min_periods=1)
    got2 = out2.toPandas().sort_values("k")["v"].to_numpy()
    vals = base2["v"].to_numpy()
    assert set(got2) <= set(vals)
    for t in range(99, n, 997):
        pref = vals[:t + 1]
        k = int(np.floor(0.5 * (len(pref) - 1))) + 1
        assert (pref <= got2[t]).sum() >= k, t


def test_query_plan_memo_zero_jobs_guard(spark, tmp_path):
    """The suite-level plan memo may return the same LAZY DataFrame
    object only for builds that launched zero Spark jobs (pure
    metadata); any build that collects data-derived state must be
    rebuilt every call. The data stamp invalidates on file change."""
    import os
    import time

    from go_pandas_spark.suite import _memoized_query

    sf = str(tmp_path)
    (tmp_path / "t.txt").write_text("x")

    def pure(spark_, sf_dir):
        return spark_.range(10).selectExpr("id * 2 AS x")

    def jobby(spark_, sf_dir):
        n = spark_.range(10).count()  # a job during build
        return spark_.range(n)

    mpure, mjobby = _memoized_query("p", pure), _memoized_query("j", jobby)
    a = mpure(spark, sf)       # zero-job build: stored
    b = mpure(spark, sf)
    assert a is b              # memo hit — same lazy plan object
    ja = mjobby(spark, sf)
    jb = mjobby(spark, sf)
    assert ja is not jb        # job-launching build: never memoized

    # stamp invalidation: touching the data dir drops the entry
    time.sleep(0.02)
    os.utime(sf, None)
    d = mpure(spark, sf)
    assert d is not a


def test_session_token_never_aliases():
    """id()-keyed session caches could alias after GC (a recycled id
    skips conf setup / returns a stopped session's plan). The token
    lives ON the session object, so two sessions can never share it —
    even when the second object reuses the first one's id()."""
    from go_pandas_spark.sources.io import _session_token

    class S:  # stand-in with SparkSession's attribute behavior
        pass

    a = S()
    ta = _session_token(a)
    assert _session_token(a) is ta
    ida = id(a)
    del a
    # force id reuse: allocate until one lands on the old address
    for _ in range(10_000):
        b = S()
        if id(b) == ida:
            break
    tb = _session_token(b)
    assert tb is not ta  # a recycled address still gets a fresh token


def test_grouped_ewm_cython_bit_identity(spark):
    """EWM._run's grouped cython kernel (groupby(...).ewm()) must be
    BIT-identical to the per-group apply it replaced, for mean and
    var, through the engine's public grouped API."""
    rng = np.random.RandomState(5)
    n = 4_000
    base = pd.DataFrame({"k": np.arange(n),
                         "g": rng.randint(0, 97, n),
                         "v": rng.normal(0, 3, n)})
    base.loc[rng.rand(n) < 0.1, "v"] = np.nan
    f = gp.Frame(spark.createDataFrame(base).repartition(8)) \
        .sort_values(["g", "k"])
    for method in ("mean", "var"):
        e = getattr(f.groupby("g").ewm(alpha=0.25), method)(cols=["v"])
        got = (e[["k", "v"]].to_pandas().sort_values("k")
               .reset_index(drop=True)["v"].to_numpy())
        ref = base.sort_values(["g", "k"]).groupby("g", group_keys=False)[
            ["v"]].apply(lambda x: getattr(x.ewm(alpha=0.25), method)())
        exp = ref.join(base.sort_values(["g", "k"])["k"]).sort_values(
            "k")["v"].to_numpy()
        assert np.array_equal(got, exp, equal_nan=True), method


def test_sid_lookup_density_gate(spark):
    """The one size rule of ``_attach_table`` counts array slots: a
    sparse sid layout (slots [0, 4000]) would embed a mostly-filler
    literal array, so it rides a broadcast join; a small dense map
    stays a literal lookup; an identity map adds no lookup at all.
    Every form returns the same values."""
    from go_pandas_spark.operators import distwindow as dw

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    sdf = spark.range(4).withColumn("sid", (F.col("id") * 4000 / 3).cast("long"))
    out = dw._attach_table(sdf, F.col("sid"), {"v": ([3, 7], "bigint")},
                           slots=[0, 4000])                       # sparse
    assert "Join" in plan(out) and "element_at" not in plan(out)
    assert {r["sid"]: r["v"] for r in out.collect()} == {
        0: 3, 1333: None, 2666: None, 4000: 7}

    sdf = spark.range(100).withColumn("sid", F.col("id"))
    out = dw._attach_table(sdf, F.col("sid"),
                           {"v": ([v * 2 for v in range(100)], "bigint")})
    assert "Join" not in plan(out) and "element_at" in plan(out)  # dense
    assert all(r["v"] == 2 * r["sid"] for r in out.collect())

    out = dw._attach_table(sdf, F.col("sid"),
                           {"v": (list(range(100)), "bigint")})  # identity
    assert "Join" not in plan(out) and "element_at" not in plan(out)
    assert all(r["v"] == r["sid"] for r in out.collect())


def test_lit_carry_array_integer_guard(spark):
    """Non-integral floats for an integer carry dtype must fail LOUDLY
    instead of silently truncating (ADVICE r13)."""
    from go_pandas_spark.operators.distwindow import _lit_array

    with pytest.raises(ValueError, match="non-integral"):
        _lit_array([1, 2.5], "bigint")
    got = spark.range(1).select(
        _lit_array([None, 4, 2.0], "bigint").alias("a")).first()["a"]
    assert list(got) == [None, 4, 2]


def test_fast_carry_all_null_block_inherits_fold(spark):
    """Regression (r14): the fast-carry totals job briefly filtered out
    rows whose picked columns are all null — a block made ENTIRELY of
    such rows then vanished from the collected totals, and the driver
    prefix fold never handed it the carry from earlier blocks (NULL
    literal filler / missed broadcast join row instead of the running
    pick). Every block with data rows must appear in the fold."""
    from go_pandas_spark.operators import distwindow as dw

    n = 300
    pdf = pd.DataFrame({"k": np.arange(n, dtype="int64"),
                        "v": np.arange(n, dtype="float64")})
    pdf.loc[100:199, "v"] = np.nan  # the middle third: an all-null block
    f = gp.Frame(spark.createDataFrame(pdf).repartition(6)).sort_values("k")
    oc = F.col(I.ORDER_COL)
    out = dw.running_pick_blocked(
        f._sdf, [oc], block_key=oc, n_blocks=3, carry_order=oc,
        picks=[(["v"], True, "b_"), (["v"], False, "f_")])
    got = out.toPandas().sort_values("k").reset_index(drop=True)
    exp_b = pdf["v"].ffill().to_numpy()
    exp_f = pdf["v"].bfill().to_numpy()
    assert np.allclose(got["b_v"].to_numpy(), exp_b, equal_nan=True)
    assert np.allclose(got["f_v"].to_numpy(), exp_f, equal_nan=True)


def test_fast_carry_right_free_blocks_value_keyed(spark, monkeypatch):
    """Value-keyed fast carries PRUNE all-null rows from the totals job
    (merge_asof's left union branch constant-folds away); blocks made
    entirely of left rows then vanish from the collected totals, and
    only the driver-known full block range (``nb_known``) re-seats
    their carry. Right rows clustered at the bottom of the key range
    leave most blocks right-free — every direction must match pandas."""
    from go_pandas_spark.operators import distwindow as dw

    monkeypatch.setattr(dw, "_CARRY_FAST_MIN_ROWS", 0)
    nl, nr = 4_000, 40
    lts = np.arange(nl, dtype="int64") * 250        # spread over [0, 1M)
    rts = np.arange(nr, dtype="int64") * 100        # clustered in [0, 4k)
    lpdf = pd.DataFrame({"ts": lts, "lv": np.arange(nl, dtype="float64")})
    rpdf = pd.DataFrame({"ts": rts, "pv": np.arange(nr, dtype="float64")})
    lf = gp.Frame(spark.createDataFrame(lpdf).repartition(8)).sort_values("ts")
    rf = gp.Frame(spark.createDataFrame(rpdf).repartition(8)).sort_values("ts")
    for direction in ("backward", "forward", "nearest"):
        m = gp.merge_asof(lf, rf, on="ts", direction=direction)
        got = (m[["ts", "lv", "pv"]].to_pandas()
               .sort_values("lv").reset_index(drop=True))
        exp = pd.merge_asof(lpdf, rpdf, on="ts", direction=direction)
        assert np.allclose(got["pv"].to_numpy(), exp["pv"].to_numpy(),
                           equal_nan=True), direction


def test_fused_grid_non_pow2_n_grid_and_budget_gate(spark, monkeypatch):
    """Two hardening regressions for the fused grid pass:

    (1) non-power-of-2 ``n_grid``: float rank math could round the last
    cumulative rank ABOVE n_tot and index past the merged value array
    (driver IndexError) — exact integer ceil keeps every rank in
    bounds; (2) the fused attempt must respect the driver-bytes budget
    (blocks x cols x ucap x 16) and fall back to the classic
    percentile_approx grid instead of collecting unbounded per-block
    histograms."""
    from go_pandas_spark.operators import distwindow as dw

    rng = np.random.RandomState(5)
    n = 580  # 29 distinct values at n_grid=7: ks[-1] rounds to 30 > 29
    base = pd.DataFrame({"k": np.arange(n),
                         "v": rng.permutation(
                             np.repeat(np.arange(29.0), 20))})
    f = gp.Frame(spark.createDataFrame(base).repartition(4)).sort_values("k")
    oc = F.col(I.ORDER_COL)
    out = dw.expanding_quantile_approx_blocked(f._sdf, oc, ["v"], 0.5,
                                               n_grid=7, min_periods=1)
    got = out.toPandas().sort_values("k")["v"].to_numpy()
    vals = base["v"].to_numpy()
    assert set(got) <= set(vals)  # every answer is a real data value
    for t in range(49, n, 97):  # rank contract at the tiny grid
        pref = vals[:t + 1]
        k = int(np.floor(0.5 * (len(pref) - 1))) + 1
        assert (pref <= got[t]).sum() >= k, t

    # (2) a 1-byte budget forces the classic fallback; on
    # grid-complete data (29 distinct <= default 1024-point grid) the
    # classic path returns the same exact lower order statistic
    exp = base["v"].expanding(min_periods=2).quantile(
        0.5, interpolation="lower").to_numpy()
    monkeypatch.setattr(dw, "_MEDIAN_FUSE_BUDGET", 1)
    out2 = dw.expanding_quantile_approx_blocked(f._sdf, oc, ["v"], 0.5,
                                                min_periods=2)
    got2 = out2.toPandas().sort_values("k")["v"].to_numpy()
    assert np.array_equal(got2, exp, equal_nan=True)
