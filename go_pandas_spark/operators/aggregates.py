"""Aggregate expression library.

Reference parity: the NaN-aware reductions of ``pandas/core/nanops.py``
(nansum:390, nanmean:429, nanstd:564, nansem:666, nanskew:799,
nankurt:878) and the groupby kernel table
``pandas/core/groupby/ops.py:318-353``. Spark aggregates are already
NULL-skipping, so "nan-awareness" is free; the work here is the
*bias-correction deltas*: pandas skew/kurt are the sample-adjusted
G1/G2 statistics while Spark's ``skewness``/``kurtosis`` are the
population g1/g2.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def _order_col() -> Column:
    from .. import _internal as I

    return F.col(I.ORDER_COL)


def pandas_skew_col(c: Column, over=None) -> Column:
    """Bias-corrected sample skewness G1 = g1 * sqrt(n(n-1))/(n-2).

    ``over=window``: each inner aggregate is windowed — a compound
    expression can't take ``.over`` as a whole (window context needs
    the ``.over`` on every aggregate node)."""
    ap = (lambda e: e.over(over)) if over is not None else (lambda e: e)
    n = ap(F.count(c)).cast("double")
    g1 = ap(F.skewness(c))
    return F.when(n < 3, F.lit(None)).otherwise(g1 * F.sqrt(n * (n - 1)) / (n - 2))


def pandas_kurt_col(c: Column, over=None) -> Column:
    """Bias-corrected excess kurtosis G2 = ((n+1)g2 + 6)(n-1)/((n-2)(n-3)).
    ``over=window``: windows every inner aggregate (see skew)."""
    ap = (lambda e: e.over(over)) if over is not None else (lambda e: e)
    n = ap(F.count(c)).cast("double")
    g2 = ap(F.kurtosis(c))
    return F.when(n < 4, F.lit(None)).otherwise(((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3)))


def var_ddof_col(c: Column, ddof: int = 1, over=None,
                 std: bool = False) -> Column:
    """pandas nanvar contract for ARBITRARY ddof: Sxx/(n−ddof), NaN
    when n ≤ ddof, 0.0 for a single observation while ddof < 1. Built
    as the (n−1)/(n−ddof) rescale of Spark's numerically stable
    var_samp — never raw power sums (r8: ddof ∉ (0,1) silently
    returned population variance before). ``over=window`` windows
    every inner aggregate."""
    ap = (lambda e: e.over(over)) if over is not None else (lambda e: e)
    if ddof == 1:
        return ap(F.stddev_samp(c) if std else F.var_samp(c))
    if ddof == 0:
        return ap(F.stddev_pop(c) if std else F.var_pop(c))
    n = ap(F.count(c)).cast("double")
    v = F.greatest(ap(F.var_samp(c)) * (n - 1.0) / (n - F.lit(float(ddof))),
                   F.lit(0.0))
    e = F.sqrt(v) if std else v
    one = F.lit(0.0) if ddof < 1 else F.lit(None).cast("double")
    return F.when(n == 1, one).when(n > ddof, e)


def sem_col(c: Column, ddof: int = 1, over=None) -> Column:
    """Standard error of mean = std(ddof) / sqrt(n) (pandas ``sem``,
    nanops.nansem: ddof reaches the VARIANCE; the denominator stays
    sqrt(count) — NOT the moving-window sem quirk, window.Rolling.sem).
    ``over=window``: windows every inner aggregate (see skew)."""
    ap = (lambda e: e.over(over)) if over is not None else (lambda e: e)
    std = var_ddof_col(c, ddof, over=over, std=True)
    return std / F.sqrt(ap(F.count(c)).cast("double"))


def mode_col(sdf, col: str) -> Column:
    return F.mode(F.col(col))


AGG_TABLE: dict[str, object] = {
    # name → factory(Column) -> Column ; mirrors _cython_table
    # (pandas/core/base.py:184) name-resolution.
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "size": lambda c: F.count(F.lit(1)),
    # min_by/max_by over the natural-order id, NOT first/last:
    # aggregate first() is order-undefined once a shuffle is involved —
    # pandas groupby.first/last means first/last IN FRAME ORDER
    "first": lambda c: F.min_by(c, F.when(c.isNotNull(), _order_col())),
    "last": lambda c: F.max_by(c, F.when(c.isNotNull(), _order_col())),
    "var": F.var_samp,
    "std": F.stddev_samp,
    "sem": sem_col,
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    "nunique": F.countDistinct,
    "prod": F.product,
    "product": F.product,
    "any": lambda c: F.max(c.cast("boolean")),
    "all": lambda c: F.min(c.cast("boolean")),
    "skew": pandas_skew_col,
    "kurt": pandas_kurt_col,
    "mad": None,  # needs two-phase (mean first) — handled in GroupBy
    "idxmin": None,  # needs the index column — handled in GroupBy
    "idxmax": None,
    "ohlc": None,
}


def resolve_agg(name: str, c: Column, ordered: bool = True) -> Column:
    """``ordered=False`` — for DataFrames WITHOUT the engine's
    ``__order__`` column (streaming sources): first/last fall back to
    Spark's arrival-order first()/last() instead of the frame-order
    min_by/max_by (which would fail to resolve the order column)."""
    if not ordered and name in ("first", "last"):
        return F.first(c, ignorenulls=True) if name == "first" \
            else F.last(c, ignorenulls=True)
    fn = AGG_TABLE.get(name)
    if fn is None:
        raise KeyError(f"aggregate {name!r} needs special handling")
    return fn(c)


# pandas min_count=0 semantics: SUM of an all-null/empty group is 0
# and PROD is 1, where SQL returns NULL. The wrap must sit OUTSIDE any
# window (.over) — hence two entry points instead of baking it into
# AGG_TABLE.
AGG_NEUTRAL = {"sum": 0, "prod": 1.0, "product": 1.0}


def with_neutral(name: str, expr: Column) -> Column:
    nz = AGG_NEUTRAL.get(name)
    return F.coalesce(expr, F.lit(nz)) if nz is not None else expr


def resolve_agg_total(name: str, c: Column, ordered: bool = True) -> Column:
    """resolve_agg for AGGREGATION context (not window): applies the
    pandas neutral element for sum/prod."""
    return with_neutral(name, resolve_agg(name, c, ordered))


# ---------------- pairwise matrices ----------------

def corr_matrix(frame, method: str = "pearson"):
    """Pairwise correlation matrix (``frame.py:6798``).

    ONE aggregation job computes all pairs (upper triangle) — the
    driver only reshapes the single result row. Spearman = pearson of
    fractional ranks (pandas 'average' method), matching
    ``nancorr_spearman`` (``pandas/_libs/algos.pyx:298``).
    """
    from ..functions.dtypes import is_numeric

    cols = [c for c, dt in frame.dtypes.items() if is_numeric(dt)]
    sdf = frame._sdf
    aggs = []
    if method == "spearman":
        # pandas masks each PAIR to its pairwise-complete rows BEFORE
        # ranking (nancorr_spearman drops rows where either value is
        # NaN, then ranks the survivors) — ranking each column once
        # over all its own non-nulls gives different ranks whenever
        # the two columns' null masks differ. Rank per (pair, side)
        # on the masked value; rank_blocked keeps the ranking
        # distributed (range-partitioned blocks, no global window).
        #
        # The base (numeric cols only) is MATERIALIZED and each pair
        # runs as its own job: chaining every pair's rank into one plan
        # made each rank's bounds job recompute all earlier ranks —
        # O(pairs²) rank passes, 176 s at 10M rows vs ~1 s/pair here.
        from .. import _internal as I
        from .distwindow import rank_blocked

        base = I.materialize(sdf.select(*cols))
        row = {}
        for i, a in enumerate(cols):
            for b in cols[i:]:
                both = F.col(a).isNotNull() & F.col(b).isNotNull()
                ra, rb = "__rk_l__", "__rk_r__"
                s2 = base.withColumn(ra, F.when(both, F.col(a)))
                s2 = rank_blocked(s2, ra, method="average", out_name=ra)
                if a == b:
                    rb = ra
                else:
                    s2 = s2.withColumn(rb, F.when(both, F.col(b)))
                    s2 = rank_blocked(s2, rb, method="average", out_name=rb)
                row[f"{a}||{b}"] = s2.agg(
                    F.corr(F.col(ra), F.col(rb))).first()[0]
    elif method == "pearson":
        for i, a in enumerate(cols):
            for b in cols[i:]:
                aggs.append(F.corr(F.col(a), F.col(b)).alias(f"{a}||{b}"))
        row = sdf.agg(*aggs).first().asDict()
    elif method == "kendall":
        return _kendall_matrix(frame, cols)
    else:
        raise NotImplementedError(f"corr method {method}")
    import pandas as pd

    m = pd.DataFrame(index=cols, columns=cols, dtype=float)
    for k, v in row.items():
        a, b = k.split("||")
        m.loc[a, b] = v
        m.loc[b, a] = v
    return m


def cov_matrix(frame):
    from ..functions.dtypes import is_numeric

    cols = [c for c, dt in frame.dtypes.items() if is_numeric(dt)]
    aggs = []
    for i, a in enumerate(cols):
        for b in cols[i:]:
            aggs.append(F.covar_samp(F.col(a), F.col(b)).alias(f"{a}||{b}"))
    row = frame._sdf.agg(*aggs).first().asDict()
    import pandas as pd

    m = pd.DataFrame(index=cols, columns=cols, dtype=float)
    for k, v in row.items():
        a, b = k.split("||")
        m.loc[a, b] = v
        m.loc[b, a] = v
    return m


def describe(frame):
    """``generic.py:9084`` — count/mean/std/min/25%/50%/75%/max, exact
    percentiles (pandas interpolation) in a single aggregation."""
    from ..functions.dtypes import is_numeric
    from ..frame import Frame
    from .. import _internal as I

    cols = [c for c, dt in frame.dtypes.items() if is_numeric(dt)]
    stats = [
        ("count", lambda c: F.count(c).cast("double")),
        ("mean", F.avg),
        ("std", F.stddev_samp),
        ("min", lambda c: F.min(c).cast("double")),
        ("25%", lambda c: F.percentile(c, F.lit(0.25))),
        ("50%", lambda c: F.percentile(c, F.lit(0.5))),
        ("75%", lambda c: F.percentile(c, F.lit(0.75))),
        ("max", lambda c: F.max(c).cast("double")),
    ]
    aggs = [fn(F.col(c)).alias(f"{c}||{nm}") for c in cols for nm, fn in stats]
    row = frame._sdf.agg(*aggs).first().asDict()
    spark = frame._sdf.sparkSession
    data = [
        tuple([nm] + [row[f"{c}||{nm}"] for c in cols])
        for nm, _ in stats
    ]
    out = spark.createDataFrame(data, schema=["summary"] + cols)
    # duplicate labels: each occurrence describes separately under its
    # repeated label (physical names stay unique in the plan)
    dup = {c: frame._dup_labels[c] for c in cols
           if frame._dup_labels and c in frame._dup_labels}
    return Frame(I.attach_order(out), dup_labels=dup or None)


def _merge_sort_swaps(a) -> int:
    """Exchange count of a bottom-up merge sort — the D-side of
    Knight's O(n log n) Kendall algorithm (the reference's
    ``nancorr_kendall``, ``algos.pyx``, is the O(n²) pair loop).
    Vectorized per merge via searchsorted."""
    import numpy as np

    a = np.asarray(a).copy()
    n = a.size
    swaps = 0
    width = 1
    while width < n:
        for lo in range(0, n, 2 * width):
            mid = min(lo + width, n)
            hi = min(lo + 2 * width, n)
            if mid >= hi:
                continue
            left, right = a[lo:mid], a[mid:hi]
            # pairs (l, r) with l > r — ties are not exchanges
            le = np.searchsorted(left, right, side="right")
            swaps += int(left.size * right.size - le.sum())
            a[lo:hi] = np.sort(a[lo:hi], kind="mergesort")
        width *= 2
    return swaps


def _tie_term(v) -> float:
    import numpy as np

    _, counts = np.unique(v, return_counts=True)
    t = counts[counts > 1].astype("float64")
    return float((t * (t - 1) / 2).sum())


def kendall_tau(x, y) -> float:
    """Exact tau-b on two numpy arrays (NaN pairs dropped)."""
    import math

    import numpy as np

    x = np.asarray(x, dtype="float64")
    y = np.asarray(y, dtype="float64")
    ok = ~(np.isnan(x) | np.isnan(y))
    x, y = x[ok], y[ok]
    n = x.size
    if n < 2:
        return float("nan")
    order = np.lexsort((y, x))
    xs, ys = x[order], y[order]
    n0 = n * (n - 1) / 2
    n1 = _tie_term(xs)
    n2 = _tie_term(ys)
    # joint ties of (x, y) pairs
    pair = xs + 1j * ys
    n3 = _tie_term(pair)
    swaps = _merge_sort_swaps(ys)
    num = n0 - n1 - n2 + n3 - 2 * swaps
    den = math.sqrt((n0 - n1) * (n0 - n2))
    return float("nan") if den == 0 else num / den


# Exact Kendall tau is sequential by construction (one total order
# over the pair set) — the matrix funnels through ONE executor task.
# Past this many rows that task becomes the whole job: refuse with the
# distributed alternatives instead of silently hanging one executor.
_KENDALL_GLOBAL_MAX_ROWS = 5_000_000


def _kendall_matrix(frame, cols):
    """Kendall tau-b matrix. Exact tau needs a total order over the
    pair set, so the numeric columns funnel through ONE executor task
    (mapInPandas over coalesce(1) — data never lands on the driver;
    only the P(P+1)/2-value result row does). O(n log n) per pair via
    Knight — strictly better asymptotics than the reference's O(n²)
    ``nancorr_kendall`` kernel, same sequential granularity. Guarded at
    ``_KENDALL_GLOBAL_MAX_ROWS`` (SCALE.md: known single-node
    surfaces)."""
    import pandas as pd

    # limit(max+1).count() instead of a full count(): the guard only
    # needs an over-limit verdict, so the scan can stop early rather
    # than paying the whole upstream plan once for the guard and once
    # for the mapInPandas pass
    n = frame._sdf.limit(_KENDALL_GLOBAL_MAX_ROWS + 1).count()
    if n > _KENDALL_GLOBAL_MAX_ROWS:
        raise ValueError(
            f"corr(method='kendall') is exact and sequential: >"
            f"{_KENDALL_GLOBAL_MAX_ROWS} rows "
            f"would funnel through one task (limit "
            f"{_KENDALL_GLOBAL_MAX_ROWS}). Use method='spearman' "
            f"(distributed rank-based) or sample first "
            f"(df.sample(n={_KENDALL_GLOBAL_MAX_ROWS}))")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i:]]

    def run(batches):
        chunks = [b for b in batches if len(b)]
        pdf = (pd.concat(chunks, ignore_index=True) if chunks
               else pd.DataFrame({c: pd.Series(dtype="float64") for c in cols}))
        yield pd.DataFrame({
            f"{a}||{b}": [kendall_tau(pdf[a].to_numpy(dtype="float64"),
                                      pdf[b].to_numpy(dtype="float64"))]
            for a, b in pairs})

    schema = ", ".join(f"`{a}||{b}` double" for a, b in pairs)
    row = (frame._sdf.select(*cols).coalesce(1)
           .mapInPandas(run, schema=schema).first().asDict())
    m = pd.DataFrame(index=cols, columns=cols, dtype=float)
    for k, v in row.items():
        a, b = k.split("||")
        m.loc[a, b] = v
        m.loc[b, a] = v
    return m
