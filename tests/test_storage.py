"""Session-storage lifecycle: the engine's three registries — the
``materialize`` leaf registry, the distwindow driver-table memo, the
dedup gram/signature caches — must be releasable via
``go_pandas_spark.clear_cache()`` at any point, the memo must be a
bounded LRU with NaN-canonical keys, and a materialized leaf must
keep a frame chain's plan flat, never serve a rewritten file's old
rows, and free its blocks once nothing reaches it. SCALE.md "Session
storage budget" documents the byte model these tests pin."""
from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest

import go_pandas_spark as gp
from go_pandas_spark import _internal as I
from go_pandas_spark.operators import distwindow as dw


def _chained_cumsum_shift(spark, pdf):
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    return f.cumsum().shift(2).to_pandas()  # to_pandas keeps frame order


def test_clear_cache_releases_pins_and_parity_survives(spark):
    """clear_cache drops every registry entry and empties the
    registries; re-running the same chained blocked query afterwards
    rebuilds its leaves and stays exact."""
    pdf = pd.DataFrame({"k": np.arange(500.0), "v": np.arange(500.0) * 0.5})
    exp = pdf.sort_values("k").reset_index(drop=True)
    exp_v = exp[["k", "v"]].cumsum().shift(2)

    out1 = _chained_cumsum_shift(spark, pdf)
    assert len(I._PINNED) > 0  # the chain consumed at least one pin
    pinned = list(I._PINNED.values())

    dropped = gp.clear_cache()
    assert dropped["pins"] == len(pinned)
    assert not I._PINNED and not dw._LOCAL_TBLS

    out2 = _chained_cumsum_shift(spark, pdf)
    for out in (out1, out2):
        np.testing.assert_allclose(out["v"], exp_v["v"], rtol=1e-12)
    assert len(I._PINNED) > 0  # pins rebuilt on demand after the clear


def test_memo_table_nan_and_negzero_keys(spark):
    """NaN-bearing carry tables HIT the memo (canonical sentinel —
    NaN != NaN tuple equality previously missed every run, regrowing
    the dict and leaking one pin per kernel per run), while -0.0 and
    +0.0 tables stay DISTINCT (Python hashes them equal; a -0.0 carry
    must not alias +0.0 — division-sign semantics)."""
    gp.clear_cache()
    schema = "b int, tot double"
    nan_rows = [(0, float("nan")), (1, 2.5)]
    a = dw._memo_table(spark, nan_rows, schema)
    b = dw._memo_table(spark, [(0, float("nan")), (1, 2.5)], schema)
    assert a is b

    z = dw._memo_table(spark, [(0, 0.0)], schema)
    nz = dw._memo_table(spark, [(0, -0.0)], schema)
    assert z is not nz
    assert math.copysign(1.0, nz.collect()[0]["tot"]) < 0


def test_memo_table_lru_bound(spark):
    """The memo is size-capped: inserting past _LOCAL_TBLS_MAX evicts
    the least-recently-used entry instead of growing without bound."""
    gp.clear_cache()
    schema = "b int, tot double"
    first = dw._memo_table(spark, [(0, 123456.0)], schema)
    for i in range(dw._LOCAL_TBLS_MAX + 5):
        dw._memo_table(spark, [(1, float(i))], schema)
    assert len(dw._LOCAL_TBLS) <= dw._LOCAL_TBLS_MAX
    # the first entry was least-recently-used -> evicted -> a rebuild
    # returns a NEW DataFrame object (correctness unaffected)
    again = dw._memo_table(spark, [(0, 123456.0)], schema)
    assert again is not first
    gp.clear_cache()


def test_frame_shift_fill_value_beyond_edge_only(spark):
    """Frame.shift(fill_value=) (r10): fills ONLY positions shifted in
    from beyond the frame edge; genuine data NaNs pass through — the
    pandas 0.24 generic.py contract, via the blocked kernel's edge
    probe."""
    rng = np.random.RandomState(7)
    v = rng.normal(0, 3, 400)
    v[rng.random(400) < 0.15] = np.nan
    pdf = pd.DataFrame({"k": np.arange(400.0), "v": v})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(8)).sort_values("k")
    for p in (3, -5):
        out = f[["v"]].shift(p, fill_value=-9.25).to_pandas()
        exp = pdf["v"].shift(p, fill_value=-9.25)
        np.testing.assert_allclose(out["v"], exp, rtol=1e-12)
        # data NaNs survived (only beyond-edge positions got the fill)
        assert out["v"].isna().sum() == exp.isna().sum() > 0


def test_rank_multi_column_chain_parity(spark):
    """Multi-column Frame.rank pins between per-column passes (r10,
    ADVICE r9: O(K²) build re-execution without it) — values must stay
    exact across the pinned chain."""
    rng = np.random.RandomState(11)
    pdf = pd.DataFrame({
        "a": rng.randint(0, 40, 600).astype(float),
        "b": rng.normal(0, 1, 600),
        "c": rng.randint(0, 5, 600).astype(float),
    })
    pdf.loc[rng.random(600) < 0.1, "b"] = np.nan
    f = gp.Frame(spark.createDataFrame(pdf.reset_index().rename(
        columns={"index": "k"})).repartition(8)).sort_values("k")
    out = f[["a", "b", "c"]].rank(method="average", pct=True).to_pandas()
    exp = pdf.rank(method="average", pct=True)
    for c in ("a", "b", "c"):
        np.testing.assert_allclose(out[c], exp[c], rtol=1e-12)


def test_int64_overflow_cum_wraps_like_pandas(spark):
    """r10 overflow family pin: driver-folded integer sum carries wrap
    two's-complement (_wrap_i64) — int64 cum* past 2^63 matches
    numpy/pandas bit-for-bit on both the frame kernel and the Series
    literal path instead of crashing the int64 literal ship."""
    big = 2 ** 62
    pdf = pd.DataFrame({
        "rid": np.arange(8, dtype="int64"),
        "x": np.array([big, big, big, -big, big, big, big, big],
                      dtype="int64"),
    })
    f = gp.Frame.from_pandas(spark, pdf).repartition(4).sort_values("rid")
    exp = pdf["x"].cumsum()
    out = f[["x"]].cumsum().to_pandas()
    assert list(out["x"]) == list(exp) and str(out["x"].dtype) == "int64"
    s = f.assign(cs=f["x"].cumsum()).to_pandas()
    assert list(s["cs"]) == list(exp)
    g = f.assign(k=f["rid"] % 2).groupby("k", as_index=False).agg(
        s=("x", "sum")).to_pandas().sort_values("k")
    ge = pdf.assign(k=pdf["rid"] % 2).groupby("k")["x"].sum()
    assert list(g["s"]) == list(ge)



def test_pinned_lru_bounded_without_barrier(spark, monkeypatch):
    """The registry self-bounds: a DIVERSE no-barrier query stream —
    each query a distinct plan — keeps it at <= _PINNED_MAX entries
    whatever frames are alive (eviction only drops the engine's
    reference), and evicted entries are gone from it."""
    gp.clear_cache()
    monkeypatch.setattr(I, "_PINNED_MAX", 4)
    pdf = pd.DataFrame({"k": np.arange(200.0), "v": np.arange(200.0)})
    base = gp.Frame(spark.createDataFrame(pdf).repartition(4)) \
        .sort_values("k")
    seen: list = []
    held = []
    for i in range(7):
        f = (base.assign(v=base["v"] * float(i + 1))
             .cumsum().shift(1))  # distinct plan per i -> distinct leaf
        f.to_pandas()
        seen.extend(I._PINNED)
        held.append(f)
        assert len(I._PINNED) <= I._PINNED_MAX
    assert [k for k in seen if k not in I._PINNED]  # some were evicted
    gp.clear_cache()


def test_rank_keeps_interim_pins_on_unpinned_base(spark):
    """Frame.rank materializes between per-column passes (r10, ADVICE
    r9): each interim relation is a registered leaf, and parity holds
    for method='first', whose ties break by order id."""
    gp.clear_cache()
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({
        "a": rng.randint(0, 10, 300).astype(float),
        "b": rng.randint(0, 10, 300).astype(float),
        "c": rng.randint(0, 10, 300).astype(float),
    })
    f = gp.Frame(spark.createDataFrame(pdf.reset_index().rename(
        columns={"index": "k"})).repartition(4)).sort_values("k")
    # unpinned base: ties under method='first' break by order id, the
    # exact case the conservative release protects
    out = f[["a", "b", "c"]].rank(method="first").to_pandas()
    exp = pdf.rank(method="first")
    for c in ("a", "b", "c"):
        np.testing.assert_allclose(out[c], exp[c], rtol=1e-12)
    assert len(I._PINNED) >= 2  # interim leaves registered (K-1 = 2)
    gp.clear_cache()


def test_warmup_primes_and_releases_only_its_pins(spark):
    """session.warmup (r10): runs every hot kernel family, returns the
    seconds spent, and drops ONLY the registry entries it created — a
    caller's pre-existing entries survive."""
    from go_pandas_spark.session import warmup

    f = gp.Frame.from_pandas(spark, pd.DataFrame({"k": np.arange(50.0)}))
    f.cumsum().shift(1)._sdf.count()  # creates a caller pin
    pre = set(I._PINNED)
    assert pre
    t = warmup(spark)
    assert isinstance(t, float) and t > 0
    assert set(I._PINNED) == pre  # nothing added, nothing stolen
    gp.clear_cache()



def test_first_valid_refs_raises_without_anchor(spark):
    """ADVICE r12 #5: the deterministic-sample contract must hold
    under python -O — a hard raise, not an assert."""
    sdf = spark.createDataFrame(pd.DataFrame({"x": [1.0, 2.0]}))
    assert I.ORDER_COL not in sdf.columns
    with pytest.raises(RuntimeError, match="ORDER_COL"):
        dw.first_valid_refs(sdf, ["x"])


def _chain(g, n: int):
    """n alternating cumsum/shift(1) calls on a Frame or a pandas
    DataFrame (on a Frame every call after the first consumes a
    blocked output, so each one materializes its input)."""
    for i in range(n):
        g = g.cumsum() if i % 2 == 0 else g.shift(1)
    return g


def test_frame_chain_plan_stays_flat(spark):
    """A 20-call frame-API chain matches pandas, and its optimized
    plan string stays O(1) in chain length with no cached-plan node:
    each call's input is a lineage-truncated leaf, never a persisted
    plan nested inside the previous one (whose printed form doubled
    per call)."""
    gp.clear_cache()
    rng = np.random.RandomState(20)
    pdf = pd.DataFrame({"k": np.arange(800.0), "v": rng.normal(0, 1, 800)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    sizes = []
    g = f[["v"]]
    for n in range(20):
        g = g.cumsum() if n % 2 == 0 else g.shift(1)
        plan = g._sdf._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan
        sizes.append(len(plan))
    assert max(sizes[2:]) <= 2 * min(sizes[2:]), sizes
    exp = _chain(pdf[["v"]], 20)
    np.testing.assert_allclose(g.to_pandas()["v"], exp["v"], rtol=1e-9)
    gp.clear_cache()


def test_dropped_registry_never_breaks_pending_frames(spark, monkeypatch):
    """Registry entries are references, not owners: with every entry
    dropped the moment it is made, and clear_cache() called while
    un-collected chained frames (and frames derived from them) are
    alive, each one still collects exactly, and no warning is
    raised."""
    import warnings

    gp.clear_cache()
    monkeypatch.setattr(I, "_PINNED_MAX", 0)
    rng = np.random.RandomState(21)
    pdf = pd.DataFrame({"k": np.arange(600.0), "v": rng.normal(0, 1, 600)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    chained = f[["v"]].cumsum().shift(2).cumsum()
    derived = chained[chained["v"] > 0.0][["v"]]
    series_anchor = f.assign(c=f["v"].cumsum(), s=f["v"].shift(3))
    assert not I._PINNED
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        gp.clear_cache()
    exp = pdf[["v"]].cumsum().shift(2).cumsum()
    np.testing.assert_allclose(chained.to_pandas()["v"], exp["v"], rtol=1e-9)
    np.testing.assert_allclose(derived.to_pandas()["v"],
                               exp["v"][exp["v"] > 0.0], rtol=1e-9)
    got = series_anchor.to_pandas()
    np.testing.assert_allclose(got["c"], pdf["v"].cumsum(), rtol=1e-9)
    np.testing.assert_allclose(got["s"], pdf["v"].shift(3), rtol=1e-9)

    # the 4-row grouped-rank anchor: a base frame outliving its Series
    # op leaves nothing that makes the barrier complain
    f4 = gp.Frame.from_pandas(spark, pd.DataFrame(
        {"k": ["a", "a", "b", "b"], "v": [1.0, 2.0, 2.0, 5.0]}))
    out = f4.assign(r=f4.groupby("k")["v"].rank()).to_pandas()
    assert list(out["r"]) == [1.0, 2.0, 1.0, 2.0]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        gp.clear_cache()


def test_registry_hit_rebinds_to_caller_attributes(spark):
    """A rebuilt query hits the registry under other expression ids and
    other internal alias names (each Series op names its anchor column
    afresh), and the leaf it gets back answers to the caller's own
    names and resolved Columns — while adding no entry."""
    gp.clear_cache()
    rng = np.random.RandomState(22)
    pdf = pd.DataFrame({"k": np.arange(700.0), "v": rng.normal(0, 1, 700)})
    src = spark.createDataFrame(pdf).repartition(16)
    sizes = []
    for _ in range(2):
        f = gp.Frame(src).sort_values("k")
        got = f.assign(c=f["v"].cumsum(), r=f["v"].rolling(5).sum(),
                       s=f["v"].shift(2)).to_pandas()
        np.testing.assert_allclose(got["c"], pdf["v"].cumsum(), rtol=1e-9)
        np.testing.assert_allclose(got["r"], pdf["v"].rolling(5).sum(),
                                   rtol=1e-9)
        np.testing.assert_allclose(got["s"], pdf["v"].shift(2), rtol=1e-12)
        sizes.append(len(I._PINNED))
    assert sizes[1] == sizes[0] > 0
    gp.clear_cache()


def test_rewritten_parquet_input_is_fresh(spark, tmp_path):
    """A leaf is never served for a rewritten input: the registry key
    carries each file scan's listing (path, length and modification
    time of every file), which a rewrite changes. Keyed on the
    semantic plan alone, the second cumagg would return the first
    file's running sums."""
    gp.clear_cache()
    path = str(tmp_path / "cum.parquet")
    for seed in (31, 32):
        rng = np.random.RandomState(seed)
        pdf = pd.DataFrame({"k": np.arange(500), "v": rng.normal(0, 1, 500)})
        gp.to_parquet(gp.Frame.from_pandas(spark, pdf), path)
        f = gp.read_parquet(spark, path).repartition(16).sort_values("k")
        got = f.cumagg({"cs": ("v", "sum"), "cm": ("v", "max")}).to_pandas()
        np.testing.assert_allclose(got["cs"], pdf["v"].cumsum(), rtol=1e-9)
        np.testing.assert_allclose(got["cm"], pdf["v"].cummax(), rtol=1e-12)
    gp.clear_cache()


def test_read_parquet_in_place_rewrite_is_fresh(spark, tmp_path):
    """``read_parquet``'s plan memo is keyed on the table's stamp (file
    count, max mtime, bytes over the tree), not the directory's mtime:
    rewriting a part-file in place under the same name leaves the
    directory's mtime unchanged, and the memoized plan's file index
    would still read the old file length."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"v": np.arange(10)}), d / "part-0.parquet")
    assert gp.read_parquet(spark, str(d)).to_pandas()["v"].sum() == 45
    pq.write_table(pa.table({"v": np.arange(1000)}), d / "part-0.parquet")
    assert gp.read_parquet(spark, str(d)).to_pandas()["v"].sum() == 499500


def test_dropped_leaves_leave_block_storage(spark):
    """A leaf's blocks live exactly as long as something reaches it:
    stored while its frames are alive, gone from the block manager
    once the frames are dropped and clear_cache() drops the registry's
    references (Spark's ContextCleaner frees an unreachable RDD after
    a JVM collection; polled, as the cleaner runs asynchronously)."""
    import gc
    import time

    gp.clear_cache()
    sc = spark.sparkContext._jsc.sc()
    pdf = pd.DataFrame({"k": np.arange(400.0), "v": np.arange(400.0)})
    f = gp.Frame(spark.createDataFrame(pdf).repartition(16)).sort_values("k")
    g = _chain(f[["v"]], 4)
    g.to_pandas()
    rdd_ids = {df._jdf.queryExecution().analyzed().rdd().id()
               for df in I._PINNED.values()}
    assert len(rdd_ids) >= 3
    assert rdd_ids <= {i.id() for i in sc.getRDDStorageInfo()}
    del f, g
    gp.clear_cache()
    deadline = time.time() + 10
    while True:
        gc.collect()
        spark._jvm.System.gc()
        left = rdd_ids & {i.id() for i in sc.getRDDStorageInfo()}
        if not left or time.time() > deadline:
            break
        time.sleep(0.5)
    assert not left
