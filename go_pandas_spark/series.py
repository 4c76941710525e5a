"""Series: a named column anchored to a parent Frame.

Reference parity: ``pandas/core/series.py:104`` (Series = Index +
values + name). Here a Series is a lazy Spark ``Column`` expression
plus the anchor Frame that owns the underlying Spark DataFrame.
Binary ops between Series of the *same* anchor stay expression-level
(no join — the common case, same as pandas columns of one frame);
ops across different frames align by index via full-outer join
(``pandas/core/ops.py:1335`` alignment contract, SURVEY.md §1.4).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, functions as F

from . import _internal as I

# Python-sign semantics for floordiv/mod (pandas follows Python, Spark
# follows SQL/C — SURVEY.md §2.9 "Math"): floor(a/b) and ((a%b)+b)%b.


def _as_col(v):
    """Literal → Column (numpy scalars unwrapped first)."""
    if isinstance(v, Column):
        return v
    return F.lit(v.item() if hasattr(v, "item") else v)


def _is_scalar_int(v) -> bool:
    """Literal python/np integer (not a Column/Series, not bool)."""
    if isinstance(v, Column) or hasattr(v, "_scol"):
        return False
    if isinstance(v, bool):
        return False
    if isinstance(v, int):
        return True
    return hasattr(v, "item") and getattr(v, "ndim", 1) == 0 \
        and isinstance(v.item(), int)


def _is_scalar_zero(v) -> bool:
    """True for a literal int zero divisor: pandas masks scalar-
    involved zero division to float ±inf/NaN (mask_zero_div_zero),
    while int-Series ÷ int-Series keeps numpy's int result (0)."""
    return _is_scalar_int(v) and int(v) == 0


def _masked_mod(rev: bool):
    """``%`` with scalar-involved pandas masking: a zero divisor row
    becomes NaN (float result), others keep Python sign rules."""
    def g(a, b):
        bc = _as_col(b)
        num, den = (bc, a) if rev else (a, bc)
        return (F.when(den == 0, F.lit(float("nan")))
                .otherwise((((num % den) + den) % den).cast("double")))

    return g


def _int_floordiv(rev: bool):
    """Integer ``//`` with the pandas int-by-zero rule (0, int dtype
    kept — numpy's floor_divide-by-zero result)."""
    def g(a, b):
        bc = _as_col(b)
        num, den = (bc, a) if rev else (a, bc)
        return (F.when(den == 0, F.lit(0).cast("long"))
                .otherwise(F.floor(num / den)))

    return g


def _int_mod(rev: bool):
    """Integer ``%`` with Python sign rules and the pandas int-by-zero
    rule (0, int dtype kept)."""
    def g(a, b):
        bc = _as_col(b)
        num, den = (bc, a) if rev else (a, bc)
        return (F.when(den == 0, F.lit(0).cast("long"))
                .otherwise(((num % den) + den) % den))

    return g


_ARITH = {
    "__add__": lambda a, b: a + b,
    "__sub__": lambda a, b: a - b,
    "__mul__": lambda a, b: a * b,
    # pandas zero-division semantics (±inf / NaN), not Spark's NULL
    "__truediv__": lambda a, b: I.true_div_col(a, _as_col(b)),
    "__floordiv__": lambda a, b: F.floor(a / b),
    "__mod__": lambda a, b: ((a % b) + b) % b,
    "__pow__": lambda a, b: F.pow(a, b),
    "__radd__": lambda a, b: b + a,
    "__rsub__": lambda a, b: b - a,
    "__rmul__": lambda a, b: b * a,
    "__rtruediv__": lambda a, b: I.true_div_col(_as_col(b), a),
    "__rfloordiv__": lambda a, b: F.floor(b / a),
    "__rmod__": lambda a, b: ((b % a) + a) % a,
    "__rpow__": lambda a, b: F.pow(b, a),
    "__eq__": lambda a, b: a == b,
    "__ne__": lambda a, b: a != b,
    "__lt__": lambda a, b: a < b,
    "__le__": lambda a, b: a <= b,
    "__gt__": lambda a, b: a > b,
    "__ge__": lambda a, b: a >= b,
    "__and__": lambda a, b: a & b,
    "__or__": lambda a, b: a | b,
    "__xor__": lambda a, b: a ^ b,
    "__rand__": lambda a, b: b & a,
    "__ror__": lambda a, b: b | a,
}


_NEEDS_ALIGNMENT = object()  # cross-frame sentinel (None is a valid operand)


class Series:
    def __init__(self, frame, scol: Column, name: str | None = None):
        self._frame = frame
        self._scol = scol
        self.name = name

    @classmethod
    def from_pandas(cls, spark, ps) -> "Series":
        """Construct from a pandas Series (Arrow-shipped via a
        one-column Frame)."""
        from .frame import Frame

        name = ps.name if ps.name is not None else "0"
        return Frame.from_pandas(spark, ps.to_frame(name))[name]

    def __repr__(self) -> str:
        try:
            head = self.head(10).tolist()
            return (f"Series(name={self.name!r}, head={head!r})")
        except Exception:
            return f"Series(name={self.name!r}, <unevaluated>)"

    # -- internals ---------------------------------------------------
    def _with_scol(self, scol: Column, name: str | None = None) -> "Series":
        return Series(self._frame, scol, name if name is not None else self.name)

    def _resolve_other(self, other):
        """Return a Column/literal usable against self's anchor, or
        the alignment sentinel if a cross-frame join is required.
        (A distinct sentinel: literal ``None`` is a valid operand —
        ``s == None`` must stay SQL three-valued comparison.)"""
        if isinstance(other, Series):
            if other._frame is self._frame or other._frame._sdf is self._frame._sdf:
                return other._scol
            return _NEEDS_ALIGNMENT
        return other

    def _aligned_binop(self, op: Callable, other: "Series") -> "Series":
        """Label-aligned binary op across frames (SURVEY §1.4, the
        reference's ``_arith_method_SERIES`` alignment,
        ``core/ops.py:1335``): full-outer equi-join on the index
        columns; non-matching labels produce NULL (the NaN analog)."""
        lf = self.to_frame("__l__")
        rf = other.to_frame("__r__")
        if not lf.index_spark_cols or not rf.index_spark_cols:
            raise ValueError(
                "cross-frame Series arithmetic requires both frames to have "
                "an index (set_index first) — positional alignment across "
                "frames is not defined in a distributed engine")
        from .operators.joins import combine_first  # noqa: F401  (same join machinery)

        lsdf, rsdf = lf._sdf, rf._sdf
        rsdf = rsdf.withColumnRenamed(I.ORDER_COL, "__rorder__")
        cond = None
        for lk, rk in zip(lf.index_spark_cols, rf.index_spark_cols):
            c = lsdf[lk].eqNullSafe(rsdf[rk])
            cond = c if cond is None else (cond & c)
        joined = lsdf.join(rsdf, cond, "full")
        idx_cols = [F.coalesce(lsdf[k], rsdf[k]).alias(k) for k in lf.index_spark_cols]
        out = joined.select(
            *idx_cols,
            F.coalesce(lsdf[I.ORDER_COL], rsdf["__rorder__"]).alias(I.ORDER_COL),
            op(lsdf["__l__"], rsdf["__r__"]).alias("__v__"),
        )
        from .frame import Frame

        res_frame = Frame(out, lf._index_names)
        return Series(res_frame, out["__v__"], self.name)

    def _binop(self, op: Callable, other) -> "Series":
        resolved = self._resolve_other(other)
        if resolved is _NEEDS_ALIGNMENT:
            return self._aligned_binop(op, other)
        return self._with_scol(op(self._scol, resolved),
                               name=None if isinstance(resolved, Column) else self.name)

    # -- spark handles -----------------------------------------------
    @property
    def spark_column(self) -> Column:
        return self._scol

    def to_frame(self, name: str | None = None):
        nm = name or self.name or "0"
        return self._frame._with_only([(nm, self._scol)])

    # -- elementwise -------------------------------------------------
    def __invert__(self) -> "Series":
        return self._with_scol(~self._scol)

    def __neg__(self) -> "Series":
        return self._with_scol(-self._scol)

    def abs(self) -> "Series":
        return self._with_scol(F.abs(self._scol))

    def round(self, decimals: int = 0) -> "Series":
        # bround = half-to-even, matching numpy/pandas (F.round is
        # half-up: 0.5 -> 1.0 where pandas gives 0.0) — same as
        # Frame.round
        return self._with_scol(F.bround(self._scol, decimals))

    def floordiv_py(self, other) -> "Series":
        """Python-sign floordiv (pandas semantics: float operands give
        a float result — ``5.0 // 7 == 0.0`` — int operands give int;
        zero-division rules ride the dunder)."""
        return self // other

    def mod_py(self, other) -> "Series":
        """Python-sign modulo (divisor's sign; zero-division rules
        ride the dunder)."""
        return self % other

    def isin(self, values) -> "Series":
        return self._with_scol(self._scol.isin(list(values)))

    def between(self, left, right, inclusive: str = "both") -> "Series":
        lo = self._scol >= left if inclusive in ("both", "left") else self._scol > left
        hi = self._scol <= right if inclusive in ("both", "right") else self._scol < right
        return self._with_scol(lo & hi)

    def isna(self) -> "Series":
        return self._with_scol(self._scol.isNull() | F.isnan(self._scol) if self._is_float() else self._scol.isNull())

    def notna(self) -> "Series":
        return self._with_scol(~self.isna()._scol)

    isnull = isna       # generic.py aliases (pandas 0.24 keeps both)
    notnull = notna

    def _is_float(self) -> bool:
        try:
            dt = self._frame._sdf.select(self._scol).schema[0].dataType.simpleString()
            return dt in ("double", "float")
        except Exception:
            return False

    def fillna(self, value) -> "Series":
        return self._with_scol(F.coalesce(self._scol, F.lit(value)))

    def astype(self, dtype: str) -> "Series":
        from .functions.dtypes import to_spark_type

        return self._with_scol(self._scol.cast(to_spark_type(dtype)))

    def clip(self, lower=None, upper=None) -> "Series":
        c = self._scol
        if lower is not None:
            c = F.greatest(c, F.lit(lower))
        if upper is not None:
            c = F.least(c, F.lit(upper))
        # greatest/least SKIP nulls (SQL) — pandas clip preserves NaN
        return self._with_scol(
            F.when(self._scol.isNull(), F.lit(None)).otherwise(c))

    def where(self, cond: "Series", other=None) -> "Series":
        oth = other._scol if isinstance(other, Series) else F.lit(other)
        return self._with_scol(F.when(cond._scol, self._scol).otherwise(oth))

    def mask(self, cond: "Series", other=None) -> "Series":
        oth = other._scol if isinstance(other, Series) else F.lit(other)
        return self._with_scol(F.when(cond._scol, oth).otherwise(self._scol))

    def map(self, mapper, na_action=None) -> "Series":
        """dict → when-chain (JVM-side); callable → arrow-batched pandas UDF.

        Reference: ``Series.map`` ``pandas/core/series.py:3129``.
        """
        if isinstance(mapper, dict):
            c = F.lit(None)
            for k, v in mapper.items():
                c = F.when(self._scol == F.lit(k), F.lit(v)).otherwise(c)
            return self._with_scol(c)
        return self.apply(mapper)

    def apply(self, func: Callable, return_type: str = "double") -> "Series":
        """Arrow-batched pandas UDF (the slow path — SURVEY §2.11)."""
        import pandas as pd  # noqa: F401
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(return_type)
        def _u(s):
            return s.map(func)

        return self._with_scol(_u(self._scol))

    # -- accessors ----------------------------------------------------
    @property
    def str(self):
        from .functions.strings import StringMethods

        return StringMethods(self)

    @property
    def dt(self):
        from .functions.datetimes import DatetimeMethods

        return DatetimeMethods(self)

    @property
    def cat(self):
        """Categorical accessor over the string-mapped categorical
        model (SURVEY §1.3: CategoricalDtype → StringType + dictionary
        ops): ``codes`` = first-appearance factorize codes,
        ``categories`` = the dictionary, plus rename/add via map."""
        return _CatAccessor(self)

    # -- order-dependent (frame kernels on the anchor) ------------------
    # Order ops run operators/distwindow.py's blocked frame kernels
    # (shift_blocked / expanding_blocked / rank_blocked, and
    # rolling_blocked via window.SeriesRolling) over the Series' anchor
    # frame; the result lands as an internal column of that frame
    # (Frame._augment), so the Series stays a Column composable into
    # assign()/arithmetic. No consumer ever executes a single-task
    # global window (reference window.pyx / algos.pyx kernels are
    # sequential by construction; this is their scale path).
    def _anchored(self, kernel, value: Column | None = None) -> "Series":
        """``value`` (default: this Series' column) lands in an internal
        column ``tmp`` of the anchor frame, ``kernel(sdf, tmp)``
        replaces it in place, and the result reads ``tmp`` — see
        Frame._augment (the anchor's plan is rebound)."""
        v = self._scol if value is None else value
        return self._with_scol(self._frame._augment(
            lambda sdf, tmp: kernel(sdf.withColumn(tmp, v), tmp)))

    def shift(self, periods: int = 1, fill_value=None) -> "Series":
        if periods == 0:
            return self._with_scol(self._scol)
        from .operators.distwindow import shift_blocked

        # shift_blocked borrows |periods| rows across block seams and
        # fills only beyond-edge positions (a lag/lead probe of a
        # literal), so genuine data nulls pass through — pandas contract
        return self._anchored(
            lambda sdf, tmp: shift_blocked(sdf, F.col(I.ORDER_COL), periods,
                                           [tmp], fill_value=fill_value,
                                           monotonic_id=True))

    def diff(self, periods: int = 1) -> "Series":
        return self._binop(lambda a, b: a - b, self.shift(periods))

    def pct_change(self, periods: int = 1) -> "Series":
        prev = self.shift(periods)
        return self._with_scol(I.pct_change_col(self._scol, prev._scol))

    def _cum(self, kind: str) -> "Series":
        from .operators.distwindow import expanding_blocked

        run = self._anchored(lambda sdf, tmp: expanding_blocked(
            sdf, F.col(I.ORDER_COL), {tmp: (tmp, kind)}))
        # pandas cum* leaves NaN at null positions and keeps
        # accumulating past them (skipna) — mask the running value
        return self._with_scol(
            F.when(self._scol.isNull(), F.lit(None)).otherwise(run._scol))

    def cumsum(self) -> "Series":
        return self._cum("sum")

    def cummax(self) -> "Series":
        return self._cum("max")

    def cummin(self) -> "Series":
        return self._cum("min")

    def cumprod(self) -> "Series":
        dt = self._frame._sdf.select(self._scol.alias("__v__")) \
            .schema[0].dataType.simpleString()
        run = self._cum("prod")
        # integer input -> integer output like pandas: the blocked
        # kernel runs in log space (float), so round back. Exact while
        # the running product fits double's 53-bit mantissa; near the
        # int64 edge pandas itself wraps (documented delta).
        if dt in ("bigint", "int", "smallint", "tinyint"):
            run = run._with_scol(F.round(run._scol).cast("long"))
        return run

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False, na_option: str = "keep") -> "Series":
        from .operators.distwindow import rank_blocked

        return self._anchored(
            lambda sdf, tmp: rank_blocked(sdf, tmp, method=method,
                                          ascending=ascending, pct=pct,
                                          na_option=na_option))

    # -- moving windows ------------------------------------------------
    def rolling(self, window, min_periods: int | None = None,
                center: bool = False):
        """``s.rolling(n)`` (``core/window.py:59``): rolling_blocked on
        the anchor frame — composable into assign(), never a global
        window. Decomposable aggs (sum/mean/min/max/count/var/std);
        median/quantile/apply live on the frame API."""
        from .window import SeriesRolling

        return SeriesRolling(self, window, min_periods=min_periods,
                             center=center)

    def expanding(self, min_periods: int = 1):
        from .window import SeriesExpanding

        return SeriesExpanding(self, min_periods=min_periods)

    def ewm(self, com=None, span=None, halflife=None, alpha=None,
            min_periods: int = 0, adjust: bool = True, ignore_na: bool = False):
        """``s.ewm(...)`` — runs the BLOCKED frame kernels
        (distwindow.ewm_mean_blocked / ewm_var_blocked) on a derived
        single-column frame; the result Series is anchored to that
        derived frame (standalone use and index-aligned assignment
        work; positional assignment into the original frame needs the
        frame API ``df.ewm(...)``)."""
        from .frame import Frame
        from .window import EWM

        name = self.name or "__ewm__"
        fr = Frame(self._frame._sdf.withColumn(name, self._scol),
                   self._frame._index_names)

        class _SeriesEWM:
            def __init__(s2, op):
                s2._op = op

            def _extract(s2, res_frame):
                return Series(res_frame, res_frame._sdf[name], name)

            def mean(s2):
                return s2._extract(s2._op.mean(cols=[name]))

            def var(s2):
                return s2._extract(s2._op.var(cols=[name]))

            def std(s2):
                return s2._extract(s2._op.std(cols=[name]))

            def _pairwise(s2, other, stat):
                # other must be expressible over the SAME underlying
                # relation (a column/derived column of this frame) —
                # the pandas cross-frame align has no Spark analog
                # here. Enforced: injecting a foreign frame's column
                # would either throw an opaque analysis error or, if
                # the name happens to resolve, silently compute
                # against the wrong data.
                osdf = other._frame._sdf
                if osdf is not self._frame._sdf:
                    try:
                        same = self._frame._sdf.sameSemantics(osdf)
                    except Exception:
                        same = False
                    if not same:
                        raise ValueError(
                            "Series.ewm cov/corr requires `other` to be a "
                            "column of the same frame as this Series "
                            "(derive both from one DataFrame, e.g. "
                            "df['x'].ewm(...).cov(df['y'])); align/join the "
                            "frames first for cross-frame pairs")
                oname = "__ewm_other__"
                fr2 = Frame(fr._sdf.withColumn(oname, other._scol),
                            fr._index_names)
                from .window import EWM

                op = EWM(fr2, **kw_all)
                res = getattr(op, stat)(name, oname, out_col="__ewm_pw__")
                return Series(res, F.col("__ewm_pw__"), self.name)

            def cov(s2, other):
                return s2._pairwise(other, "cov")

            def corr(s2, other):
                return s2._pairwise(other, "corr")

        kw_all = dict(com=com, span=span, halflife=halflife, alpha=alpha,
                      min_periods=min_periods, adjust=adjust,
                      ignore_na=ignore_na)
        return _SeriesEWM(EWM(fr, **kw_all))

    # -- reductions (drive an action) ----------------------------------
    def _agg(self, aggcol: Column):
        return self._frame._sdf.select(aggcol.alias("v")).first()["v"]

    def sum(self):
        # pandas min_count=0: all-null sums to 0, not None
        v = self._agg(F.sum(self._scol))
        return 0 if v is None else v

    def mean(self):
        return self._agg(F.avg(self._scol))

    def min(self):
        return self._agg(F.min(self._scol))

    def max(self):
        return self._agg(F.max(self._scol))

    def count(self):
        return self._agg(F.count(self._scol))

    def std(self, ddof: int = 1):
        from .operators.aggregates import var_ddof_col

        return self._agg(var_ddof_col(self._scol, ddof, std=True))

    def var(self, ddof: int = 1):
        from .operators.aggregates import var_ddof_col

        return self._agg(var_ddof_col(self._scol, ddof))

    def median(self):
        return self._agg(F.percentile(self._scol, F.lit(0.5)))

    def quantile(self, q: float = 0.5):
        return self._agg(F.percentile(self._scol, F.lit(q)))

    def nunique(self):
        return self._agg(F.countDistinct(self._scol))

    def agg(self, func):
        """``series.py:3358`` Series.aggregate — str → scalar,
        list[str] → pd.Series (one Spark job for all funcs),
        callable → Series.apply."""
        if callable(func):
            return self.apply(func)
        from .operators.aggregates import resolve_agg_total

        if isinstance(func, str):
            return self._agg(resolve_agg_total(func, self._scol))
        import pandas as pd

        row = self._frame._sdf.agg(
            *[resolve_agg_total(f, self._scol).alias(f) for f in func]).first()
        return pd.Series({f: row[f] for f in func})

    aggregate = agg

    def any(self):
        return bool(self._agg(F.max(self._scol.cast("boolean").cast("int"))) or 0)

    def all(self):
        return bool(self._agg(F.min(self._scol.cast("boolean").cast("int"))) if self.count() else 1)

    def prod(self):
        v = self._agg(F.product(self._scol))
        return 1.0 if v is None else v

    product = prod

    def skew(self):
        from .operators.aggregates import pandas_skew_col

        return self._agg(pandas_skew_col(self._scol))

    def kurt(self):
        from .operators.aggregates import pandas_kurt_col

        return self._agg(pandas_kurt_col(self._scol))

    def _monotonic(self, op) -> bool:
        """Lag comparison + bool-and (``algos.pyx:796``). The lag rides
        the blocked shift kernel (operators/distwindow.shift_blocked),
        not a global unpartitioned window — the comparison feeds a
        boolean reduction, so the blocked per-partition plan is exact
        and scale-safe."""
        prev = self.shift(1)  # rebinds the anchor's plan: select after
        sdf = self._frame._sdf.select(self._scol.alias("__x__"),
                                      prev._scol.alias("__p__"))
        ok = F.min(F.when(F.col("__p__").isNull() | op(F.col("__x__"), F.col("__p__")), 1).otherwise(0))
        return bool(sdf.agg(ok.alias("v")).first()["v"])

    def is_monotonic_increasing(self) -> bool:
        return self._monotonic(lambda x, p: x >= p)

    def is_monotonic_decreasing(self) -> bool:
        return self._monotonic(lambda x, p: x <= p)

    def asof_value(self, where):
        """``Series.asof`` (``generic.py:6508``): last non-null value at
        or before label ``where`` — the index label when the frame has
        one, else the TRUE 0-based position (``Frame._position_col``;
        raw ``__order__`` ids are (partition<<33)+offset, never
        positions)."""
        lbl = self._frame._label_col()  # may rebind the anchor's plan
        sdf = self._frame._sdf.withColumn("__lbl__", lbl)
        sdf = sdf.filter(F.col("__lbl__") <= F.lit(where))
        # max_by on the order id — aggregate last() is order-undefined
        pick = F.max_by(self._scol, F.when(self._scol.isNotNull(), F.col(I.ORDER_COL)))
        return sdf.agg(pick.alias("v")).first()["v"]

    def idxmin(self):
        """Index label (or order position when unindexed) of the
        minimum (``series.py:2079``) — one min_by aggregation."""
        return self._idx_of(F.min_by)

    def idxmax(self):
        return self._idx_of(F.max_by)

    def _idx_of(self, fn):
        idx = self._frame.index_spark_cols
        key = F.col(idx[0]) if idx else F.col(I.ORDER_COL)
        sdf = self._frame._sdf.filter(self._scol.isNotNull())
        return sdf.agg(fn(key, self._scol).alias("v")).first()["v"]

    def searchsorted(self, values: list) -> list[int]:
        """``series.py:2161`` — positions via count-less-than (one
        aggregation for all probes)."""
        aggs = [F.sum(F.when(self._scol < F.lit(v), 1).otherwise(0)).alias(f"p{i}")
                for i, v in enumerate(values)]
        row = self._frame._sdf.agg(*aggs).first()
        return [row[f"p{i}"] for i in range(len(values))]

    def autocorr(self, lag: int = 1):
        """corr with lagged self (``pandas/core/series.py:2028``) —
        the lag rides the blocked shift kernel."""
        lagged = self.shift(lag)  # rebinds the anchor's plan: select after
        sdf = self._frame._sdf.select(self._scol.alias("__x__"),
                                      lagged._scol.alias("__l__"))
        return sdf.agg(F.corr("__x__", "__l__").alias("v")).first()["v"]

    def unique(self) -> list:
        return [r[0] for r in self._frame._sdf.select(self._scol.alias("v")).distinct().collect()]

    def value_counts(self, normalize: bool = False, ascending: bool = False,
                     bins: int | None = None, dropna: bool = True):
        """``base.py:1238``; ``bins=`` (numeric series) buckets through
        ``cut`` with equal-width breaks over [min, max] first.
        ``dropna=True`` (pandas default) excludes null values — and the
        ``normalize`` denominator counts only the rows kept."""
        col = self._scol
        if bins is not None:
            from .operators.reshape import cut

            # Series-form cut(int) owns the edge computation (empty/
            # all-null default, degenerate hi==lo widening, left-edge
            # pad) — one shared path instead of a duplicated one here.
            col = cut(self, bins)._scol
        sdf = self._frame._sdf.select(col.alias("value"))
        if dropna:
            sdf = sdf.filter(F.col("value").isNotNull())
        sdf = sdf.groupBy("value").count()
        if normalize:
            # scalar total via broadcast cross join — a global window
            # here would funnel the whole distinct-value table through
            # one task (billions of rows for high-cardinality columns)
            tot = sdf.agg(F.sum("count").alias("__tot__"))
            sdf = (sdf.crossJoin(F.broadcast(tot))
                   .withColumn("count", F.col("count") / F.col("__tot__"))
                   .drop("__tot__"))
        sdf = sdf.orderBy(F.col("count").asc() if ascending else F.col("count").desc())
        from .frame import Frame

        return Frame(I.attach_order(sdf))

    def describe(self):
        """``Series.describe`` (``generic.py:9660``) — the frame
        describe restricted to this column."""
        nm = self.name or "0"
        return self.to_frame(nm).describe()

    def corr(self, other: "Series", method: str = "pearson"):
        """``Series.corr(other)`` (``series.py:1971``) — same-frame
        column pair, one aggregation."""
        nm_a, nm_b = self.name or "a", (other.name or "b") + "__r"
        sdf = self._frame._sdf.select(self._scol.alias(nm_a), other._scol.alias(nm_b))
        if method == "pearson":
            return sdf.agg(F.corr(nm_a, nm_b).alias("v")).first()["v"]
        from .frame import Frame
        from .operators.aggregates import corr_matrix

        m = corr_matrix(Frame(I.attach_order(sdf)), method=method)
        return float(m.loc[nm_a, nm_b])

    def cov(self, other: "Series", ddof: int = 1):
        """``Series.cov(other)`` (``series.py:2011``): pairwise
        Sxy/(n−ddof). n ≤ ddof follows np.cov's clamped-factor
        contract (sign(Sxy)·inf, NaN when Sxy == 0 or n < 2) —
        covar_pop only matches ddof=0 (r8: ddof ≥ 2 silently returned
        the population covariance before)."""
        sdf = self._frame._sdf.select(self._scol.alias("__a__"), other._scol.alias("__b__"))
        a, b = F.col("__a__"), F.col("__b__")
        if ddof == 1:
            e = F.covar_samp(a, b)
        elif ddof == 0:
            e = F.covar_pop(a, b)
        else:
            n = F.count(F.when(a.isNotNull() & b.isNotNull(), 1)).cast("double")
            cv = F.covar_samp(a, b)
            e = (F.when(n > ddof, cv * (n - 1.0) / (n - F.lit(float(ddof))))
                 .when(cv > 0, F.lit(float("inf")))
                 .when(cv < 0, F.lit(float("-inf")))
                 .otherwise(F.lit(float("nan"))))
        return sdf.agg(e.alias("v")).first()["v"]

    def to_pandas(self):
        import pandas as pd

        pdf = self._frame._sdf.select(self._scol.alias(self.name or "0"), I.ORDER_COL).orderBy(I.ORDER_COL).toPandas()
        return pdf[self.name or "0"]

    def collect(self) -> list:
        return list(self.to_pandas())

    # ---------------- secondary pandas surface ----------------
    def sem(self, ddof: int = 1):
        from .operators.aggregates import sem_col

        return self._agg(sem_col(self._scol, ddof))

    def mad(self):
        mean = self._agg(F.avg(self._scol))
        return self._agg(F.avg(F.abs(self._scol - F.lit(mean))))

    def kurtosis(self):
        return self.kurt()

    def rename(self, name: str) -> "Series":
        return self._with_scol(self._scol, name=name)

    @property
    def size(self) -> int:
        return self._frame._sdf.count()

    @property
    def shape(self) -> tuple:
        return (self.size,)

    ndim = 1

    @property
    def values(self):
        return self.to_pandas().to_numpy()

    array = values

    @property
    def nbytes(self) -> int:
        nm = self.name or "0"
        return self.to_frame(nm).memory_usage()[nm]

    @property
    def T(self) -> "Series":
        return self

    transpose = T
    squeeze = T

    def ravel(self):
        return self.values

    def _via_frame(self, op: Callable) -> "Series":
        nm = self.name or "0"
        return op(self.to_frame(nm))[nm]

    def dropna(self) -> "Series":
        return self._via_frame(lambda f: f[f[self.name or "0"].notna()])

    def ffill(self, limit: int | None = None) -> "Series":
        return self._via_frame(lambda f: f.ffill(limit=limit))

    def bfill(self, limit: int | None = None) -> "Series":
        return self._via_frame(lambda f: f.bfill(limit=limit))

    def copy(self, deep: bool = True) -> "Series":
        return self._with_scol(self._scol)

    def bool(self) -> bool:
        vals = self.head(2).tolist()
        if len(vals) != 1:
            raise ValueError("bool() needs exactly one element")
        return bool(vals[0])

    def compound(self):
        """(1 + r).prod() - 1 (``generic.py:9316``)."""
        return self._agg(F.product(self._scol + F.lit(1.0)) - F.lit(1.0))

    def clip_lower(self, threshold) -> "Series":
        return self.clip(lower=threshold)

    def clip_upper(self, threshold) -> "Series":
        return self.clip(upper=threshold)

    def ptp(self):
        """max - min (``series.py`` ptp, numpy peak-to-peak)."""
        return self._agg(F.max(self._scol) - F.min(self._scol))

    def to_numpy(self):
        import numpy as np

        return np.asarray(self.values)

    def to_string(self, n: int | None = None) -> str:
        from .sources.io import to_string

        return to_string(self.to_frame(self.name or "0"), n)

    def pipe(self, func: Callable, *args, **kwargs):
        return func(self, *args, **kwargs)

    def transform(self, func):
        """Series.transform — same row count as input, so identical to
        apply for elementwise callables; str names go through agg-free
        elementwise dispatch where one exists."""
        return self.apply(func) if callable(func) else \
            getattr(self, func)()

    def append(self, other: "Series") -> "Series":
        from .operators.joins import concat

        nm = self.name or "0"
        return concat([self.to_frame(nm), other.to_frame(nm)], axis=0)[nm]

    def explode(self) -> "Series":
        return self._via_frame(
            lambda f: f.explode(self.name or "0"))

    def drop(self, labels) -> "Series":
        return self._via_frame(lambda f: f.drop(index=labels))

    def update(self, other: "Series") -> "Series":
        """Overwrite with other's non-null values, positionally aligned
        (``series.py:2674``; returns a NEW Series — frames are
        immutable plans, documented delta from pandas in-place)."""
        return other.combine_first(self).rename(self.name)

    def reset_index(self, drop: bool = False):
        nm = self.name or "0"
        out = self.to_frame(nm).reset_index(drop=drop)
        return out[nm] if drop else out

    def sort_index(self, ascending: bool = True) -> "Series":
        return self._via_frame(lambda f: f.sort_index(ascending=ascending))

    def truncate(self, before=None, after=None) -> "Series":
        return self._via_frame(lambda f: f.truncate(before, after))

    def xs(self, key, level=0) -> "Series":
        return self._via_frame(lambda f: f.xs(key, level=level))

    def unstack(self, level=-1):
        return self.to_frame(self.name or "0").unstack(level=level)

    def tshift(self, periods: int = 1, freq: str = "1d") -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).tshift(periods, freq, on=nm)[nm]

    def align(self, other: "Series"):
        """Positional align (engine order model) — returns both sides
        re-anchored on one joined frame so cross-frame expressions stay
        join-free afterwards."""
        nm_a, nm_b = self.name or "a", other.name or "b"
        if nm_a == nm_b:
            nm_b = nm_b + "_other"
        from .operators.joins import concat

        both = concat([self.to_frame(nm_a), other.to_frame(nm_b)], axis=1)
        return both[nm_a], both[nm_b]

    def argsort(self, ascending: bool = True) -> "Series":
        """Positions that would sort the series (``series.py:2357``).
        Output row k holds the original position of the k-th smallest
        value. (Delta: pandas emits -1 for NaN under the legacy
        contract; here nulls sort last and keep their position.)"""
        nm = self.name or "0"
        fr = self.to_frame(nm)
        from .frame import Frame

        p = fr._position_col()  # rebinds fr._sdf: read it after
        pos = Frame(fr._sdf.withColumn("pos", p), fr._index_names)
        return pos.sort_values(nm, ascending=ascending)["pos"] \
                  .rename(self.name)

    def first_valid_index(self):
        """Label (or position) of the first non-null value."""
        return self._valid_index(first=True)

    def last_valid_index(self):
        return self._valid_index(first=False)

    def _valid_index(self, first: bool):
        nm = self.name or "0"
        fr = self.to_frame(nm)
        lab = (F.col(I.index_col(0)) if fr._index_names
               else fr._position_col())
        sdf = fr._sdf.withColumn("__lab__", lab).filter(F.col(nm).isNotNull())
        agg = F.min_by(F.col("__lab__"), F.col(I.ORDER_COL)) if first \
            else F.max_by(F.col("__lab__"), F.col(I.ORDER_COL))
        return sdf.agg(agg.alias("v")).first()["v"]

    def rdivmod(self, other):
        return self.rfloordiv(other), self.rmod(other)

    def dot(self, other: "Series"):
        """Inner product (``series.py:2075``) — one multiply + sum."""
        prod = self * other
        return prod._agg(F.sum(prod._scol))

    def reindex(self, labels) -> "Series":
        return self._via_frame(lambda f: f.reindex(labels))

    def filter(self, items=None, like: str | None = None,
               regex: str | None = None) -> "Series":
        """Keep entries whose INDEX label matches (``generic.py:4930``
        — Series.filter acts on the index, not the values)."""
        nm = self.name or "0"
        fr = self.to_frame(nm)
        lab = (F.col(I.index_col(0)) if fr._index_names
               else fr._position_col())
        if items is not None:
            cond = lab.isin(list(items))
        elif like is not None:
            cond = lab.cast("string").contains(like)
        elif regex is not None:
            cond = lab.cast("string").rlike(regex)
        else:
            raise TypeError("filter needs items=, like= or regex=")
        from .frame import Frame

        return Frame(fr._sdf.filter(cond), fr._index_names)[nm]

    def first(self, offset: str) -> "Series":
        """Time-based head over a datetime index (``generic.py:7818``)."""
        return self._offset_window(offset, first=True)

    def last(self, offset: str) -> "Series":
        return self._offset_window(offset, first=False)

    def _offset_window(self, offset: str, first: bool) -> "Series":
        nm = self.name or "0"
        fr = self.to_frame(nm)
        if not fr._index_names:
            raise TypeError("first/last(offset) need a datetime index "
                            "(set_index a timestamp column first)")
        from .frame import Frame

        ts = "__ts__"
        fr2 = Frame(fr._sdf.withColumn(ts, F.col(I.index_col(0))),
                    fr._index_names)
        out = (fr2.first_offset(offset, ts) if first
               else fr2.last_offset(offset, ts))
        return Frame(out._sdf.drop(ts), out._index_names)[nm]

    def resample(self, freq: str):
        """Resample over the datetime index (``generic.py:7110``) —
        the index level materializes as the bin column."""
        nm = self.name or "0"
        fr = self.to_frame(nm)
        if not fr._index_names:
            raise TypeError("Series.resample needs a datetime index")
        from .frame import Frame

        fr2 = Frame(fr._sdf.withColumn("__ts__", F.col(I.index_col(0))),
                    fr._index_names)
        return fr2.resample(freq, on="__ts__")

    def pop(self, item):
        raise NotImplementedError(
            "pop mutates in place; frames are immutable plans — use "
            "s[label] for the value and s.drop(label) for the rest")

    @property
    def empty(self) -> bool:
        return self._frame._sdf.isEmpty()

    def view(self, dtype=None) -> "Series":
        """0.24 Series.view — documented delta: value-preserving cast
        (astype), not a bit reinterpretation (no numpy buffer here)."""
        return self.astype(dtype) if dtype is not None else self.copy()

    def swaplevel(self, i: int = 0, j: int = 1) -> "Series":
        return self._via_frame(lambda f: f.swaplevel(i, j))

    def at_time(self, time_str: str) -> "Series":
        return self._index_time_filter("at_time", time_str)

    def between_time(self, start: str, end: str) -> "Series":
        return self._index_time_filter("between_time", start, end)

    def _index_time_filter(self, method: str, *args) -> "Series":
        nm = self.name or "0"
        fr = self.to_frame(nm)
        if not fr._index_names:
            raise TypeError(f"{method} needs a datetime index")
        from .frame import Frame

        fr2 = Frame(fr._sdf.withColumn("__ts__", F.col(I.index_col(0))),
                    fr._index_names)
        out = getattr(fr2, method)(*args, on="__ts__")
        return Frame(out._sdf.drop("__ts__"), out._index_names)[nm]

    def asfreq(self, freq: str, method: str | None = None):
        nm = self.name or "0"
        fr = self.to_frame(nm)
        if not fr._index_names:
            raise TypeError("Series.asfreq needs a datetime index")
        from .frame import Frame

        fr2 = Frame(fr._sdf.withColumn("__ts__", F.col(I.index_col(0))),
                    fr._index_names)
        return fr2.asfreq(freq, on="__ts__", method=method)

    def head(self, n: int = 5) -> "Series":
        return self._via_frame(lambda f: f.head(n))

    def tail(self, n: int = 5) -> "Series":
        return self._via_frame(lambda f: f.tail(n))

    def sample(self, frac: float | None = None, n: int | None = None,
               seed: int | None = None) -> "Series":
        return self._via_frame(lambda f: f.sample(frac=frac, n=n, seed=seed))

    def sort_values(self, ascending: bool = True, na_position: str = "last") -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).sort_values(nm, ascending=ascending,
                                             na_position=na_position)[nm]

    def interpolate(self, method: str = "linear", **kw) -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).interpolate(method=method, subset=[nm], **kw)[nm]

    def replace(self, to_replace, value=None) -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).replace(to_replace, value, subset=[nm])[nm]

    def combine_first(self, other: "Series") -> "Series":
        """Order-aligned coalesce when both series share a frame; the
        general labeled case goes through Frame.combine_first."""
        if other._frame is self._frame:
            return self._with_scol(F.coalesce(self._scol, other._scol), name=self.name)
        nm = self.name or "0"
        return self.to_frame(nm).combine_first(other.to_frame(nm))[nm]

    def combine(self, other: "Series", func) -> "Series":
        if other._frame is self._frame:
            return self._with_scol(func(self._scol, other._scol), name=self.name)
        nm = self.name or "0"
        return self.to_frame(nm).combine(other.to_frame(nm), func)[nm]

    def divmod(self, other) -> tuple:
        # flex semantics (numpy int 0 on zero divisors), matching
        # .floordiv/.mod and rdivmod — NOT the masked dunder path
        # (pandas ops.py: flex divmod rides the same numpy op as the
        # flex pair; only builtin divmod() masks to float ±inf/NaN).
        return self.floordiv(other), self.mod(other)

    def __divmod__(self, other) -> tuple:
        # builtin divmod(): the DUNDER pair (// and %), which mask int
        # zero-division to float ±inf/NaN like pandas' special methods.
        return self // other, self % other

    def __rdivmod__(self, other) -> tuple:
        return other // self, other % self

    def asof(self, where):
        return self.asof_value(where)

    def groupby(self, by):
        """Grouped view of this column: ``s.groupby(f['k'])`` /
        ``s.groupby('k')`` — routes to the frame's SeriesGroupBy."""
        key = by.name if isinstance(by, Series) else by
        return self._frame.groupby(key)[self.name]

    def iat(self, pos: int):
        return self.take([pos]).collect()[0]

    def at(self, label):
        rows = self._label_rows(label)
        if not rows:
            raise KeyError(label)
        return rows[0]

    def get(self, label, default=None):
        rows = self._label_rows(label)
        return rows[0] if rows else default

    def _label_rows(self, label) -> list:
        f = self._frame
        if f._index_names:
            cond = F.col(I.index_col(0)) == F.lit(label)
            base = f._sdf
        else:
            from .operators.distwindow import row_position

            base = row_position(f._sdf, "__pos__")
            cond = F.col("__pos__") == F.lit(label)
        return [r["__v__"] for r in
                base.withColumn("__v__", self._scol).filter(cond)
                .select("__v__").collect()]

    def keys(self) -> list:
        return self._frame.index.collect()

    def items(self):
        yield from zip(self.keys(), self.collect())

    iteritems = items

    def to_dict(self) -> dict:
        return dict(self.items())

    def to_csv(self, path: str, **kw) -> None:
        self.to_frame(self.name or "0").to_csv(path, **kw)

    def to_json(self, path: str, **kw) -> None:
        self.to_frame(self.name or "0").to_json(path, **kw)

    def memory_usage(self) -> int:
        return self.nbytes

    @property
    def dtype(self) -> str:
        return self._frame._sdf.select(self._scol.alias("__v__")).schema[0].dataType.simpleString()

    @property
    def hasnans(self) -> bool:
        return self._frame._sdf.filter(self._scol.isNull()).limit(1).count() > 0

    @property
    def is_unique(self) -> bool:
        r = self._frame._sdf.agg(
            F.count(self._scol).alias("n"),
            F.countDistinct(self._scol).alias("d"),
            F.sum(self._scol.isNull().cast("int")).alias("nn")).first()
        return r["n"] == r["d"] and (r["nn"] or 0) <= 1

    def duplicated(self, keep: str = "first") -> "Series":
        """``series.py:... base.duplicated``: True for repeats of an
        earlier (keep='first') / later ('last') occurrence, all
        occurrences when keep=False. Window partitioned BY VALUE —
        distributed at any cardinality."""
        from pyspark.sql import Window as W

        if keep == "first":
            n = F.row_number().over(W.partitionBy(self._scol).orderBy(F.col(I.ORDER_COL)))
            return self._with_scol(n > 1, name=self.name)
        if keep == "last":
            n = F.row_number().over(W.partitionBy(self._scol).orderBy(F.col(I.ORDER_COL).desc()))
            return self._with_scol(n > 1, name=self.name)
        if keep is False:
            c = F.count(F.lit(1)).over(W.partitionBy(self._scol))
            return self._with_scol(c > 1, name=self.name)
        raise ValueError(f"keep={keep!r}")

    def drop_duplicates(self, keep: str = "first") -> "Series":
        nm = self.name or "0"
        f = self.to_frame(nm)
        f = f.assign(__dup__=f[nm].duplicated(keep))
        kept = f.filter_rows(~f["__dup__"]).drop("__dup__")
        return kept[nm]

    def repeat(self, repeats: int) -> "Series":
        """``series.py:1038``: each element ``repeats`` times, order
        preserved (explode keeps the (order, position) sort)."""
        nm = self.name or "0"
        sdf = (self._frame._sdf
               .select(F.col(I.ORDER_COL).alias("__po__"), self._scol.alias(nm))
               .select("__po__", F.posexplode(F.array_repeat(F.col(nm), repeats))
                       .alias("__pp__", nm))
               .orderBy("__po__", "__pp__")
               .drop("__po__", "__pp__")
               .withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
        from .frame import Frame

        return Frame(sdf)[nm]

    def argmin(self) -> int:
        """Position (0-based) of the minimum (``base.py:... argmin``).
        Two bounded jobs — same driver-scalar class as iat."""
        return self._argpos(asc=True)

    def argmax(self) -> int:
        return self._argpos(asc=False)

    def _argpos(self, asc: bool) -> int:
        v = self._scol
        order = [v.asc_nulls_last() if asc else v.desc_nulls_last(), F.col(I.ORDER_COL)]
        row = self._frame._sdf.select(F.col(I.ORDER_COL).alias("__o__"), v.alias("__v__")) \
            .orderBy(*order).limit(1).collect()
        if not row or row[0]["__v__"] is None:
            return -1
        marker = row[0]["__o__"]
        return self._frame._sdf.filter(F.col(I.ORDER_COL) < marker).count()

    def factorize(self):
        """``base.py:... factorize``: (codes Series, uniques list).
        Codes = dense first-appearance rank, computed distributed (one
        value-keyed agg + one join); uniques come to the driver only
        (they ARE the result, cardinality-sized, like pandas)."""
        from pyspark.sql import Window as W

        nm = self.name or "0"
        base = self.to_frame(nm)
        firsts = (base._sdf.filter(F.col(nm).isNotNull())
                  .groupBy(nm).agg(F.min(I.ORDER_COL).alias("__fo__")))
        # rank of first appearance: the uniques table is
        # cardinality-sized; a single window over it is the standard
        # dictionary-build step (same as pandas' hash table)
        codes_map = firsts.withColumn(
            "__code__", F.row_number().over(W.orderBy("__fo__")) - 1)
        joined = base._sdf.join(F.broadcast(codes_map.drop("__fo__")), on=nm, how="left")
        from .frame import Frame

        f = Frame(joined.withColumn("__code__",
                                    F.coalesce(F.col("__code__"), F.lit(-1)).cast("long")))
        codes = f["__code__"]
        uniques = [r[nm] for r in codes_map.orderBy("__code__").select(nm).collect()]
        return codes, uniques

    def mode(self) -> list:
        """All modal values, ascending (driver-side result — it is
        mode-cardinality-sized by definition)."""
        counts = (self._frame._sdf.filter(self._scol.isNotNull())
                  .groupBy(self._scol.alias("__v__")).count())
        mx = counts.agg(F.max("count")).first()[0]
        if mx is None:
            return []
        return [r["__v__"] for r in
                counts.filter(F.col("count") == F.lit(mx)).orderBy("__v__").collect()]

    def nlargest(self, n: int = 5) -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).nlargest(n, nm)[nm]

    def nsmallest(self, n: int = 5) -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).nsmallest(n, nm)[nm]

    def item(self):
        rows = self._frame._sdf.select(self._scol.alias("__v__")).limit(2).collect()
        if len(rows) != 1:
            raise ValueError("can only convert an array of size 1 to a Python scalar")
        return rows[0]["__v__"]

    def tolist(self) -> list:
        return self.collect()

    to_list = tolist

    def take(self, indices) -> "Series":
        nm = self.name or "0"
        return self.to_frame(nm).take(list(indices))[nm]

    def equals(self, other: "Series") -> bool:
        nm = self.name or "0"
        return self.to_frame(nm).equals(other.to_frame(nm))


for _name, _op in _ARITH.items():
    def _make(op):
        def _m(self, other):
            return self._binop(op, other)

        return _m

    setattr(Series, _name, _make(_op))


def _floordiv_dtype_aware(rev: bool):
    # pandas: float // x is float, int // int is int. F.floor alone
    # would silently narrow float inputs to long.
    def _m(self, other):
        int_keep = (not rev and _is_scalar_int(other) and int(other) != 0
                    and not self._is_float())
        if int_keep:
            # the ONE case the pandas DUNDER keeps int: a literal
            # non-zero int divisor. Everything else masks zero
            # division to float ±inf/NaN (mask_zero_div_zero) — even
            # int-Series ÷ int-Series, where only the FLEX methods
            # (.floordiv) keep numpy's int 0. plain floor(a/b) would
            # also floor the zero rows away (Spark NULL), and Spark's
            # floor(±Infinity) clamps to the long range. Dtype drifts
            # float when the divisor happens to be zero-free — values
            # stay exact.
            return self._binop(lambda a, b: F.floor(a / b), other)
        fexpr = ((lambda a, b: I.floor_div_col(_as_col(b), a)) if rev
                 else (lambda a, b: I.floor_div_col(a, _as_col(b))))
        return self._binop(fexpr, other)

    return _m


Series.__floordiv__ = _floordiv_dtype_aware(rev=False)
Series.__rfloordiv__ = _floordiv_dtype_aware(rev=True)


def _mod_dtype_aware(rev: bool):
    # Python-sign mod; int % 0 is 0 with int dtype kept (pandas),
    # float % 0 renders NaN (Spark NULL in a float column)
    def _m(self, other):
        fl = (lambda a, b: ((b % a) + a) % a) if rev else (lambda a, b: ((a % b) + b) % b)
        if self._is_float() or isinstance(other, float):
            return self._binop(fl, other)  # float: Spark NULL at 0 renders NaN
        if not rev and _is_scalar_int(other) and int(other) != 0:
            return self._binop(fl, other)  # literal non-zero int: int kept
        # pandas DUNDER masks every other zero division to NaN float —
        # even int-Series pairs (only the FLEX .mod keeps numpy's 0)
        return self._binop(_masked_mod(rev), other)

    return _m


def _series_bool(self):
    raise ValueError(
        "The truth value of a Series is ambiguous. Use s.empty, s.any() "
        "or s.all().")


Series.__bool__ = _series_bool
Series.__abs__ = Series.abs
Series.__pos__ = lambda self: self._with_scol(self._scol, name=self.name)
Series.__round__ = lambda self, decimals=0: self.round(decimals)

Series.__mod__ = _mod_dtype_aware(rev=False)
Series.__rmod__ = _mod_dtype_aware(rev=True)


# Flex arithmetic methods with fill_value (``ops.py:487-546`` op table,
# installed via ``add_flex_arithmetic_methods:1266``): a null operand is
# replaced by fill_value before the op; rows where BOTH sides are null
# stay null (pandas semantics). floordiv/mod keep Python sign rules,
# same as the dunders above.
_FLEX = {
    "add": "__add__", "radd": "__radd__", "sub": "__sub__", "rsub": "__rsub__",
    "mul": "__mul__", "rmul": "__rmul__", "div": "__truediv__", "rdiv": "__rtruediv__",
    "truediv": "__truediv__", "rtruediv": "__rtruediv__",
    "floordiv": "__floordiv__", "rfloordiv": "__rfloordiv__",
    "mod": "__mod__", "rmod": "__rmod__", "pow": "__pow__", "rpow": "__rpow__",
}

for _name, _dunder in _FLEX.items():
    def _make_flex(op, name):
        floordiv = "floordiv" in name
        is_mod = name in ("mod", "rmod")
        rev = name.startswith("r")

        def _m(self, other, fill_value=None):
            # floordiv keeps pandas dtype semantics: float in → float
            # out — and the float path needs pandas zero-division
            # (±inf/NaN; plain floor(a/b) floors the zero rows away);
            # int // 0 and int % 0 are 0 with the int dtype kept
            is_f = self._is_float() or isinstance(other, float)
            masked = ((not rev and _is_scalar_zero(other))
                      or (rev and _is_scalar_int(other)))
            cast_f = floordiv and (is_f or masked)
            use = op
            if cast_f:
                use = ((lambda a, b: I.floor_div_col(_as_col(b), a)) if rev
                       else (lambda a, b: I.floor_div_col(a, _as_col(b))))
            elif floordiv:
                use = _int_floordiv(rev)
            elif is_mod and not is_f:
                use = _masked_mod(rev) if masked else _int_mod(rev)
            if fill_value is None:
                return self._binop(use, other)
            fv = F.lit(fill_value)

            def wrapped(a, b):
                bc = b if isinstance(b, Column) else F.lit(b)
                out = use(F.coalesce(a, fv), F.coalesce(bc, fv))
                return (F.when(a.isNull() & bc.isNull(), F.lit(None))
                        .otherwise(out))

            return self._binop(wrapped, other)

        return _m

    setattr(Series, _name, _make_flex(_ARITH[_dunder], _name))

Series.divide = Series.div
Series.multiply = Series.mul
Series.subtract = Series.sub

# Flex comparisons with fill_value (``ops.py`` _comp_method_SERIES via
# add_flex_comparison_methods) — fill_value patches nulls on either
# side before comparing.
_FLEX_CMP = {"eq": "__eq__", "ne": "__ne__", "lt": "__lt__",
             "le": "__le__", "gt": "__gt__", "ge": "__ge__"}

for _name, _dunder in _FLEX_CMP.items():
    def _make_cmp(op):
        def _m(self, other, fill_value=None):
            if fill_value is None:
                return self._binop(op, other)
            fv = F.lit(fill_value)

            def wrapped(a, b):
                bc = b if isinstance(b, Column) else F.lit(b)
                return op(F.coalesce(a, fv), F.coalesce(bc, fv))

            return self._binop(wrapped, other)

        return _m

    setattr(Series, _name, _make_cmp(_ARITH[_dunder]))


class _CatAccessor:
    """``Series.cat`` — reference ``core/arrays/categorical.py:213``
    mapped onto the string dictionary model: categories are the
    distinct values ordered by first appearance (pandas' inference
    order for unordered categoricals constructed from data)."""

    def __init__(self, s: Series):
        self._s = s

    @property
    def codes(self) -> Series:
        codes, _ = self._s.factorize()
        return codes

    @property
    def categories(self) -> list:
        _, uniques = self._s.factorize()
        return uniques

    def rename_categories(self, mapping: dict) -> Series:
        return self._s._with_scol(
            F.coalesce(self._s.map(mapping)._scol, self._s._scol),
            name=self._s.name)

    def remove_categories(self, removals: list) -> Series:
        return self._s._with_scol(
            F.when(self._s._scol.isin(list(removals)), F.lit(None))
            .otherwise(self._s._scol), name=self._s.name)

    def add_categories(self, *_args, **_kw) -> Series:
        # dictionary is inferred from data; unseen values are legal
        return self._s

    def set_categories(self, categories: list, ordered: bool = False) -> Series:
        """Pin the dictionary; ``ordered=True`` returns a view whose
        comparisons rank by category position (pandas ordered
        CategoricalDtype semantics). Values outside ``categories``
        become null, like pandas."""
        s = self._s
        keep = F.when(s._scol.isin(list(categories)), s._scol)
        if not ordered:
            return s._with_scol(keep, name=s.name)
        return _OrderedCatSeries(s._frame, keep, s.name, list(categories))

    def as_ordered(self, categories: list) -> Series:
        return self.set_categories(categories, ordered=True)


class _OrderedCatSeries(Series):
    """Ordered-categorical view (SURVEY §1.3: 'ordered-categorical
    comparisons need a rank-map column'): comparisons translate both
    sides to ordinal positions in the category list — `df[s >= "B"]`
    works like pandas ordered CategoricalDtype. The rank map is a
    broadcast literal array; unseen values compare as null."""

    def __init__(self, frame, scol: Column, name, categories: list):
        super().__init__(frame, scol, name)
        self._categories = list(categories)

    def _ordinal(self, x) -> Column:
        arr = F.array(*[F.lit(c) for c in self._categories])
        if isinstance(x, Series):
            x = x._scol
        if isinstance(x, Column):
            pos = F.array_position(arr, x)
            return F.when(pos > 0, pos)
        if x not in self._categories:
            raise ValueError(f"{x!r} is not a known category")
        return F.lit(self._categories.index(x) + 1)

    def _cmp(self, other, op):
        return Series(self._frame, op(self._ordinal(self._scol), self._ordinal(other)),
                      self.name)

    def __lt__(self, other):
        return self._cmp(other, lambda a, b: a < b)

    def __le__(self, other):
        return self._cmp(other, lambda a, b: a <= b)

    def __gt__(self, other):
        return self._cmp(other, lambda a, b: a > b)

    def __ge__(self, other):
        return self._cmp(other, lambda a, b: a >= b)

    def min(self):
        o = self._frame._sdf.agg(F.min(self._ordinal(self._scol)).alias("o")).first()["o"]
        return None if o is None else self._categories[int(o) - 1]

    def max(self):
        o = self._frame._sdf.agg(F.max(self._ordinal(self._scol)).alias("o")).first()["o"]
        return None if o is None else self._categories[int(o) - 1]
