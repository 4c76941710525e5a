"""GroupBy: deferred grouped view, pandas-style.

Reference parity: ``pandas/core/groupby/groupby.py:324`` (_GroupBy /
GroupBy:945), the kernel table ``core/groupby/ops.py:318-353`` and
named-agg resolution ``core/groupby/generic.py:183,756``. The
reference factorizes keys into dense codes and runs one-pass Cython
kernels; here Catalyst compiles ``groupBy(keys).agg(...)`` into
partial (map-side) aggregation → shuffle by key → final aggregation,
the distributed generalization of the same hash-agg (SURVEY §3.3).

Semantics reproduced: NaN group keys are dropped (pandas 0.24 always
drops them), ``as_index`` controls whether keys become the result
index, group-order results are key-sorted (pandas ``sort=True``).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import Column, Window as W, functions as F

from . import _internal as I
from .operators.aggregates import (AGG_TABLE, pandas_kurt_col, pandas_skew_col,
                                   resolve_agg, resolve_agg_total, sem_col, with_neutral)


class GroupBy:
    def __init__(self, frame, keys: list[str], dropna: bool = True, as_index: bool = True,
                 sort: bool = True):
        self._frame = frame
        self._keys = keys
        self._dropna = dropna
        self._as_index = as_index
        # pandas groupby(sort=) — sort=False skips the key-sort of the
        # result (one rangepartition exchange saved; the pandas option
        # exists for exactly this reason)
        self._sort = sort

    # ---------------- internals ----------------
    def _sdf(self):
        sdf = self._frame._sdf
        if self._dropna:
            sdf = sdf.dropna(subset=self._keys)
        return sdf

    # -- shape-preserving ops (transform/shift/cum*/rank/ffill/...):
    # pandas KEEPS null-key rows and emits NaN for them; filtering them
    # out (the aggregation behavior) silently changes the row count
    # (fuzz-caught, groupby_transform seed 420439)
    def _sdf_keep(self):
        return self._frame._sdf

    def _null_key_cond(self):
        """OR of key-is-null, or None when dropna=False (null keys form
        a real group then)."""
        if not self._dropna:
            return None
        cond = None
        for k in self._keys:
            c = F.col(k).isNull()
            cond = c if cond is None else (cond | c)
        return cond

    def _mask_null_keys(self, expr: Column) -> Column:
        cond = self._null_key_cond()
        return expr if cond is None else \
            F.when(cond, F.lit(None)).otherwise(expr)

    def _value_cols(self, numeric_only: bool = False) -> list[str]:
        from .functions.dtypes import is_numeric

        # PHYSICAL names: dup-labeled frames aggregate every occurrence
        # (reference groupby iterates columns positionally); keys are
        # unique labels, so physical == label for them
        dt = self._frame.dtypes
        return [c for c in dt
                if c not in self._keys and ((not numeric_only) or is_numeric(dt[c]))]

    def _wrap(self, sdf, sort: bool | None = None, dup=None):
        from .frame import Frame

        if self._sort if sort is None else sort:
            exprs = [F.col(k).asc_nulls_last() for k in self._keys]
            sdf = sdf.orderBy(*exprs)
        sdf = I.attach_order(sdf.drop(I.ORDER_COL)) if I.ORDER_COL in sdf.columns else I.attach_order(sdf)
        # dup labels on the output: fresh agg aliases (dup=) plus any
        # of the source frame's dup physicals passing through unchanged
        dmap = dict(dup or {})
        fdup = self._frame._dup_labels or {}
        present = set(sdf.columns)
        dmap.update({c: lab for c, lab in fdup.items() if c in present})
        if self._as_index:
            out = Frame(sdf, [], dup_labels=dmap or None)
            return out.set_index(self._keys)
        return Frame(sdf, [], dup_labels=dmap or None)

    def _special_agg(self, name: str, col: str, alias: str):
        """Aggs that need more than one expression (mad/idxmin/idxmax/ohlc)."""
        if name == "mad":
            # mean absolute deviation: |x - group_mean| then mean —
            # two-phase: window mean (partial agg reuses the same
            # shuffle key) then aggregate.
            return ("mad", col, alias)
        raise KeyError(name)

    # ---------------- agg ----------------
    def agg(self, func=None, **named) -> Any:
        """Named-agg resolution mirroring ``pandas/core/base.py:184``.

        Accepts: ``agg('sum')``, ``agg(['sum','mean'])``,
        ``agg({'col': 'sum', 'col2': ['mean','max']})``,
        ``agg(out=('col','sum'), ...)`` (pandas named aggregation).
        """
        from .frame import _dup_phys

        fdup = self._frame._dup_labels or {}
        out_dup: dict[str, str] = {}  # fresh output alias -> label

        def _out(col: str, want: str) -> str:
            """Output alias for (physical col, wanted label): dup
            occurrences get fresh unique physical aliases whose label
            repeats (want with the physical swapped for the label)."""
            if col in fdup:
                lab = want.replace(col, fdup[col]) if col in want else want
                p = _dup_phys(lab)
                out_dup[p] = lab
                return p
            return want

        specs: list[tuple[str, str, str]] = []  # (funcname, col, alias)
        if named:
            for alias, (col, fn) in named.items():
                if fdup:
                    if len(self._frame._phys_for_label(col)) > 1:
                        # one named output cannot target two occurrences
                        raise ValueError(f"The column label {col!r} is not unique.")
                    # unique label stranded on a __dupN__ physical
                    # (column subsetting): aggregate the physical
                    col = self._frame._dup_key(col)
                specs.append((fn, col, alias))
        elif isinstance(func, str):
            for c in self._value_cols(numeric_only=func not in ("first", "last", "count", "min", "max", "nunique", "size")):
                specs.append((func, c, _out(c, c)))
        elif isinstance(func, (list, tuple)):
            for c in self._value_cols(numeric_only=True):
                for fn in func:
                    specs.append((fn, c, _out(c, f"{c}_{fn}")))
        elif isinstance(func, dict):
            for lab, fns in func.items():
                # a duplicated label in the spec aggregates EVERY
                # occurrence (same contract as Frame.agg)
                for c in (self._frame._phys_for_label(lab) or [lab]):
                    for fn in ([fns] if isinstance(fns, str) else list(fns)):
                        alias = lab if isinstance(fns, str) else f"{lab}_{fn}"
                        specs.append((fn, c, _out(c, alias)))
        else:
            raise TypeError(f"unsupported agg spec: {func!r}")
        return self._run_specs(specs, dup=out_dup or None)

    def _run_specs(self, specs: list[tuple[str, str, str]], dup=None):
        # the positional label may rebind the frame's plan (Frame.
        # _augment), so it is taken before the plan is read
        idxlab = (self._idx_expr() if any(fn in ("idxmin", "idxmax")
                                          for fn, _, _ in specs) else None)
        sdf = self._sdf()
        pre = []  # window pre-computations (mad)
        aggs: list[Column] = []
        for fn, col, alias in specs:
            if fn == "mad":
                mcol = f"__mean_{col}__"
                if mcol not in [p[0] for p in pre]:
                    pre.append((mcol, F.avg(col).over(W.partitionBy(*self._keys))))
                aggs.append(F.avg(F.abs(F.col(col) - F.col(mcol))).alias(alias))
            elif fn == "idxmin":
                # ties break to FIRST occurrence via the (value, order) key
                k = F.when(F.col(col).isNotNull(),
                           F.struct(F.col(col), F.col(I.ORDER_COL)))
                aggs.append(F.min_by(idxlab, k).alias(alias))
            elif fn == "idxmax":
                k = F.when(F.col(col).isNotNull(),
                           F.struct(F.col(col), (-F.col(I.ORDER_COL)).alias("o")))
                aggs.append(F.max_by(idxlab, k).alias(alias))
            elif fn == "ohlc":
                # min_by/max_by on the order id, NOT first/last: aggregate
                # first() is order-undefined after a shuffle — it only
                # LOOKS stable on single-stage local runs
                okey = F.when(F.col(col).isNotNull(), F.col(I.ORDER_COL))
                aggs.append(F.min_by(F.col(col), okey).alias(f"{alias}_open"))
                aggs.append(F.max(col).alias(f"{alias}_high"))
                aggs.append(F.min(col).alias(f"{alias}_low"))
                aggs.append(F.max_by(F.col(col), okey).alias(f"{alias}_close"))
            elif callable(fn):
                # handled below: Spark refuses pandas grouped-agg UDFs
                # in the same .agg() as JVM aggregates
                # (INVALID_PANDAS_UDF_PLACEMENT) — callables run in a
                # second keyed aggregation joined back on the group keys
                continue
            else:
                aggs.append(resolve_agg_total(fn, F.col(col)).alias(alias))
        for name, expr in pre:
            sdf = sdf.withColumn(name, expr)
        callables = [(fn, col, alias) for fn, col, alias in specs if callable(fn)]
        if callables:
            # named-agg lambdas (``agg(out=('col', lambda s: ...))``,
            # core/groupby/generic.py:183): Arrow grouped-agg pandas
            # UDFs, aggregated separately (Spark disallows mixing them
            # with JVM aggregates in one .agg()) and joined on the keys
            from pyspark.sql.functions import PandasUDFType, pandas_udf

            udf_aggs = [pandas_udf(fn, "double", PandasUDFType.GROUPED_AGG)(F.col(col)).alias(alias)
                        for fn, col, alias in callables]
            udf_out = sdf.groupBy(*self._keys).agg(*udf_aggs)
            if not aggs:
                return self._wrap(udf_out, dup=dup)
            jvm_out = sdf.groupBy(*self._keys).agg(*aggs)
            # preserve the user's alias order across both sides
            order = [a for _, _, a in specs]
            if self._dropna:
                out = (jvm_out.join(udf_out, list(self._keys))
                       .select(*self._keys, *order))
            else:
                # dropna=False keeps the null-key group: a plain
                # equality join would silently drop it — join null-safe
                u = udf_out.select(*[F.col(k).alias(f"__u_{k}") for k in self._keys],
                                   *[a for _, _, a in callables])
                cond = None
                for k in self._keys:
                    c = F.col(k).eqNullSafe(F.col(f"__u_{k}"))
                    cond = c if cond is None else (cond & c)
                out = (jvm_out.join(u, cond)
                       .select(*self._keys, *order))
            return self._wrap(out, dup=dup)
        out = sdf.groupBy(*self._keys).agg(*aggs)
        return self._wrap(out, dup=dup)

    def agg_udf(self, col: str, func, alias: str | None = None, return_type: str = "double"):
        """Callable aggregation (``agg(callable)``,
        ``core/groupby/generic.py:183``) → Arrow-batched grouped-agg
        pandas UDF: ``func`` receives the group's values as a pandas
        Series and returns a scalar."""
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        # explicit functionType: `from __future__ import annotations`
        # stringifies type hints, breaking signature inference
        udf = pandas_udf(func, return_type, PandasUDFType.GROUPED_AGG)
        out = self._sdf().groupBy(*self._keys).agg(udf(F.col(col)).alias(alias or col))
        return self._wrap(out)

    def _idx_expr(self) -> Column:
        idx = self._frame.index_spark_cols
        # no index → TRUE 0-based position (raw __order__ ids are
        # (partition << 33) + offset, never positions; Frame._position_col)
        return F.col(idx[0]) if idx else self._frame._position_col()

    # ---------------- named shortcuts ----------------
    def _all_cols(self, fn: str, numeric_only: bool = True):
        return self.agg(fn)

    def sum(self):
        return self.agg("sum")

    def mean(self):
        return self.agg("mean")

    def min(self):
        return self.agg("min")

    def max(self):
        return self.agg("max")

    def count(self):
        return self.agg("count")

    def first(self):
        return self.agg("first")

    def last(self):
        return self.agg("last")

    def var(self, ddof: int = 1):
        return self.agg("var") if ddof == 1 else self._ddof_agg("var", ddof)

    def std(self, ddof: int = 1):
        return self.agg("std") if ddof == 1 else self._ddof_agg("std", ddof)

    def sem(self, ddof: int = 1):
        return self.agg("sem") if ddof == 1 else self._ddof_agg("sem", ddof)

    def _ddof_agg(self, kind: str, ddof: int):
        """Per-group var/std/sem with arbitrary ddof (pandas groupby
        signature): the stable-rescale expressions of
        operators.aggregates, one hash aggregation."""
        from .operators.aggregates import sem_col, var_ddof_col

        aggs = []
        for c in self._value_cols(numeric_only=True):
            e = (sem_col(F.col(c), ddof) if kind == "sem"
                 else var_ddof_col(F.col(c), ddof, std=(kind == "std")))
            aggs.append(e.alias(c))
        out = self._sdf().groupBy(*self._keys).agg(*aggs)
        return self._wrap(out)

    def median(self):
        return self.agg("median")

    def prod(self):
        return self.agg("prod")

    def skew(self):
        return self.agg("skew")

    def nunique(self):
        return self.agg("nunique")

    def any(self):
        return self.agg("any")

    def all(self):
        return self.agg("all")

    def mad(self):
        return self.agg("mad")

    def size(self):
        out = self._sdf().groupBy(*self._keys).agg(F.count(F.lit(1)).alias("size"))
        return self._wrap(out)

    def quantile(self, q: float = 0.5):
        specs = [("quantile", c, c) for c in self._value_cols(numeric_only=True)]
        sdf = self._sdf()
        aggs = [F.percentile(F.col(c), F.lit(q)).alias(a) for _, c, a in specs]
        return self._wrap(sdf.groupBy(*self._keys).agg(*aggs))

    def describe(self):
        stats = ["count", "mean", "std", "min", "median", "max"]
        specs = []
        for c in self._value_cols(numeric_only=True):
            for s in stats:
                specs.append((s, c, f"{c}_{s}"))
        return self._run_specs(specs)

    def kurt(self):
        return self.agg("kurt")

    kurtosis = kurt

    def idxmin(self):
        return self.agg(**{c: (c, "idxmin") for c in self._value_cols(numeric_only=True)})

    def idxmax(self):
        return self.agg(**{c: (c, "idxmax") for c in self._value_cols(numeric_only=True)})

    def ohlc(self, col: str | None = None):
        """Per-group open/high/low/close of ``col`` (first value column
        when omitted) in natural order (``core/resample.py`` analog)."""
        c = col or self._value_cols(numeric_only=True)[0]
        return self._run_specs([("ohlc", c, c)])

    @property
    def ngroups(self) -> int:
        return self._sdf().select(*self._keys).distinct().count()

    @property
    def groups(self) -> dict:
        """key(s) → list of row labels. Driver-sized O(rows) BY
        CONTRACT (pandas returns every index) — streams partitions,
        use only where you'd call pandas .groups."""
        idx = self._idx_expr()
        out: dict = {}
        for row in (self._sdf().select(*self._keys, idx.alias("__l__"))
                    .toLocalIterator()):
            k = row[self._keys[0]] if len(self._keys) == 1 else tuple(row[k] for k in self._keys)
            out.setdefault(k, []).append(row["__l__"])
        return out

    def get_group(self, key):
        """The sub-frame of one group (``groupby.py:670``)."""
        vals = (key,) if not isinstance(key, tuple) else key
        if len(vals) != len(self._keys):
            raise KeyError(key)
        cond = None
        for k, v in zip(self._keys, vals):
            c = F.col(k) == F.lit(v)
            cond = c if cond is None else (cond & c)
        out = self._frame._sdf.filter(cond)
        if out.isEmpty():
            raise KeyError(key)
        from .frame import Frame

        return Frame(out, self._frame._index_names)

    def ngroup(self):
        """Group number per row (sorted key order, like pandas
        sort=True). The numbered dictionary is cardinality-sized; the
        frame only pays one broadcast join."""
        keys_tbl = self._sdf().select(*self._keys).distinct()
        numbered = keys_tbl.withColumn(
            "__ng__", F.row_number().over(W.orderBy(*[F.col(k) for k in self._keys])) - 1)
        joined = self._frame._sdf.join(F.broadcast(numbered), on=self._keys, how="left")
        from .series import Series
        from .frame import Frame

        f = Frame(joined, self._frame._index_names)
        return Series(f, F.col("__ng__").cast("long"), "__ng__")

    def pipe(self, func: Callable, *args, **kwargs):
        return func(self, *args, **kwargs)

    def sample(self, n: int | None = None, frac: float | None = None,
               seed: int | None = None):
        """Per-group sampling: ``frac`` filters on a seeded rand;
        ``n`` takes the first n of a seeded random order per group
        (window partitioned by the keys — distributed)."""
        from .frame import Frame

        if (n is None) == (frac is None):
            raise ValueError("pass exactly one of n or frac")
        if frac is not None:
            # pandas draws EXACTLY round(frac·len(group)) per group —
            # not a Bernoulli coin per row
            w = W.partitionBy(*self._keys).orderBy(F.rand(seed), F.col(I.ORDER_COL))
            cnt = F.count(F.lit(1)).over(W.partitionBy(*self._keys))
            out = (self._sdf().withColumn("__rn__", F.row_number().over(w))
                   .withColumn("__take__", F.round(cnt * frac).cast("long"))
                   .filter(F.col("__rn__") <= F.col("__take__"))
                   .drop("__rn__", "__take__"))
            return Frame(out, self._frame._index_names)
        w = W.partitionBy(*self._keys).orderBy(F.rand(seed), F.col(I.ORDER_COL))
        out = (self._sdf().withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") <= n).drop("__rn__"))
        return Frame(out, self._frame._index_names)

    aggregate = agg

    # ---------------- window-backed (transform family) ----------------
    def _w(self):
        return W.partitionBy(*self._keys)

    def _w_ord(self):
        return W.partitionBy(*self._keys).orderBy(I.ORDER_COL)

    def transform(self, fn, cols: list[str] | None = None):
        """Group-broadcast aggregate (``core/groupby/generic.py:524``):
        one window aggregation, no join back. Callables run per group
        as an Arrow-batched grouped-map pandas UDF (same contract:
        ``fn(series) -> same-length series or scalar``)."""
        if callable(fn):
            return self._transform_callable(fn, cols)
        cols = cols or self._value_cols(numeric_only=True)
        sdf = self._sdf_keep()
        for c in cols:
            sdf = sdf.withColumn(c, self._mask_null_keys(
                with_neutral(fn, resolve_agg(fn, F.col(c)).over(self._w()))))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def _transform_callable(self, fn, cols: list[str] | None = None):
        """transform(callable): shape-preserving per-group apply.
        Scale: one shuffle on the group keys; each group is a pandas
        batch (groups must fit an executor — same bound as
        groupby.apply). Null-key rows stay in the frame and get NaN
        (dropna=True pandas rule); frame order rides __order__
        untouched through the grouped map."""
        from .frame import Frame

        cols = cols or self._value_cols(numeric_only=True)
        sdf = self._sdf_keep()
        fields = []
        for fld in sdf.schema.fields:
            dt = "double" if fld.name in cols else fld.dataType.simpleString()
            fields.append(f"`{fld.name}` {dt}")
        schema = ", ".join(fields)

        def run(pdf):
            out = pdf.copy()
            for c in cols:
                r = fn(out[c].astype("float64"))
                out[c] = r  # scalar broadcasts; series must align by length
            return out

        out = sdf.groupBy(*self._keys).applyInPandas(run, schema)
        for c in cols:
            out = out.withColumn(c, self._mask_null_keys(F.col(c)))
        return Frame(out, self._frame._index_names)

    def having(self, expr: str):
        """Group-predicate filter fast path (pandas ``GroupBy.filter``
        with an aggregate condition, ``core/groupby/generic.py:625``):
        the condition is an SQL expression over per-group aggregates,
        e.g. ``"avg(value) > 10"`` — computed as a window agg, no join."""
        import re

        part = ", ".join(f"`{k}`" for k in self._keys)
        # inject OVER (PARTITION BY keys) after each aggregate call so the
        # predicate evaluates per group on every row
        rewritten = re.sub(
            r"\b(avg|mean|sum|min|max|count|count_distinct|stddev_samp|stddev|std|"
            r"var_samp|variance|median|percentile|first|last|skewness|kurtosis)\s*\(([^()]*)\)",
            rf"\1(\2) OVER (PARTITION BY {part})",
            expr,
            flags=re.IGNORECASE,
        )
        sdf = self._sdf()
        from .frame import Frame

        return Frame(sdf.withColumn("__keep__", F.expr(rewritten)).filter(F.col("__keep__")).drop("__keep__"),
                     self._frame._index_names)

    def filter(self, func: Callable):
        """Arbitrary per-group predicate via applyInPandas (slow path)."""
        import pandas as pd

        schema = self._sdf().schema

        def _f(pdf: "pd.DataFrame") -> "pd.DataFrame":
            return pdf if func(pdf) else pdf.iloc[0:0]

        out = self._sdf().groupBy(*self._keys).applyInPandas(_f, schema=schema)
        from .frame import Frame

        return Frame(out, self._frame._index_names)

    def apply(self, func: Callable, schema=None):
        """Arbitrary per-group UDF — the crown-jewel compatibility path
        (``core/groupby/groupby.py:658`` → Spark ``applyInPandas``,
        Arrow-batched, runs *real pandas* per group).

        ``schema``: Spark schema string; if omitted, inferred by
        running ``func`` on a BOUNDED sample of the first group on the
        driver (``.limit(1000)`` — a skewed group must never be able to
        OOM the driver; pass ``schema=`` if ``func``'s output schema
        depends on rows beyond the first 1000 of a group).
        """
        import pandas as pd

        sdf = self._sdf().drop(I.ORDER_COL)
        if schema is None:
            first_key = sdf.select(*self._keys).first()
            if first_key is None:
                raise ValueError("cannot infer schema from empty frame; pass schema=")
            cond = None
            for k in self._keys:
                c = F.col(k) == F.lit(first_key[k])
                cond = c if cond is None else (cond & c)
            sample = sdf.filter(cond).limit(1000).toPandas()
            result = func(sample)
            spark = sdf.sparkSession
            schema = spark.createDataFrame(result).schema
        out = sdf.groupBy(*self._keys).applyInPandas(lambda pdf: func(pdf), schema=schema)
        from .frame import Frame

        return Frame(out, [])

    # ---------------- order-dependent grouped ops ----------------
    def cumsum(self, cols: list[str] | None = None):
        return self._cum(F.sum, cols)

    def cummax(self, cols: list[str] | None = None):
        return self._cum(F.max, cols)

    def cummin(self, cols: list[str] | None = None):
        return self._cum(F.min, cols)

    def cumprod(self, cols: list[str] | None = None):
        return self._cum(F.product, cols)

    def fillna(self, value=None, method: str | None = None,
               cols: list[str] | None = None, limit: int | None = None):
        """groupby.py fillna — method='ffill'/'bfill' propagate within
        the group only (``limit`` caps the fill run like pandas);
        scalar/dict values fill group-independently."""
        if method in ("ffill", "pad"):
            return self.ffill(cols, limit=limit)
        if method in ("bfill", "backfill"):
            return self.bfill(cols, limit=limit)
        if value is None:
            raise ValueError("fillna needs value= or method=")
        cols = cols or self._value_cols()
        sdf = self._sdf_keep()
        vals = value if isinstance(value, dict) else {c: value for c in cols}
        for c, v in vals.items():
            sdf = sdf.withColumn(c, self._mask_null_keys(
                F.coalesce(F.col(c), F.lit(v))))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def cumcount(self):
        sdf = self._sdf_keep().withColumn("cumcount", self._mask_null_keys(
            (F.row_number().over(self._w_ord()) - 1).cast("double")))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def _cum(self, aggfn, cols):
        cols = cols or self._value_cols(numeric_only=True)
        w = self._w_ord().rowsBetween(W.unboundedPreceding, W.currentRow)
        sdf = self._sdf_keep()
        for c in cols:
            # pandas skipna: null rows stay null, accumulation continues
            sdf = sdf.withColumn(c, self._mask_null_keys(
                F.when(F.col(c).isNull(), F.lit(None)).otherwise(aggfn(c).over(w))))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def _pairwise(self, fn, out_name: str):
        """Per-group pairwise stat over numeric columns, LONG format
        (keys, col_a, col_b, value) — upper triangle + diagonal, one
        hash aggregation for every pair (documented delta from the
        reference's MultiIndex matrix shape, base/groupby.py corr)."""
        cols = self._value_cols(numeric_only=True)
        pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i:]]
        aggs = [fn(a, b).alias(f"{a}\x1f{b}") for a, b in pairs]
        g = self._sdf().groupBy(*self._keys).agg(*aggs)
        structs = F.array(*[
            F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                     F.col(f"{a}\x1f{b}").alias(out_name)) for a, b in pairs])
        return g.select(*self._keys, F.explode(structs).alias("__p__")) \
                .select(*self._keys, "__p__.col_a", "__p__.col_b",
                        f"__p__.{out_name}")

    def corr(self, method: str = "pearson"):
        """Per-group pairwise Pearson correlation (long format)."""
        if method != "pearson":
            raise NotImplementedError(
                "groupby.corr supports pearson; use the frame-level "
                "corr() for spearman/kendall")
        from .frame import Frame

        return Frame(self._pairwise(F.corr, "corr"))

    def cov(self, ddof: int = 1):
        """Per-group pairwise covariance (long format): Sxy/(n−ddof)
        over pairwise-complete pairs, NaN when n ≤ ddof (covar_pop
        only matches ddof=0)."""
        from .frame import Frame

        if ddof == 1:
            fn = F.covar_samp
        elif ddof == 0:
            fn = F.covar_pop
        else:
            def fn(a, b):
                a, b = F.col(a) if isinstance(a, str) else a, \
                    F.col(b) if isinstance(b, str) else b
                n = F.count(F.when(a.isNotNull() & b.isNotNull(), 1)) \
                    .cast("double")
                cv = F.covar_samp(a, b)
                # n <= ddof: np.cov clamps the factor to 0 -> +/-inf
                return (F.when(n > ddof, cv * (n - 1.0)
                               / (n - F.lit(float(ddof))))
                        .when(cv > 0, F.lit(float("inf")))
                        .when(cv < 0, F.lit(float("-inf")))
                        .otherwise(F.lit(float("nan"))))
        return Frame(self._pairwise(fn, "cov"))

    def shift(self, periods: int = 1, cols: list[str] | None = None):
        cols = cols or self._value_cols()
        fn = F.lag if periods >= 0 else F.lead
        sdf = self._sdf_keep()
        for c in cols:
            sdf = sdf.withColumn(c, self._mask_null_keys(
                fn(c, abs(periods)).over(self._w_ord())))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def diff(self, periods: int = 1, cols: list[str] | None = None):
        cols = cols or self._value_cols(numeric_only=True)
        fn = F.lag if periods >= 0 else F.lead
        sdf = self._sdf_keep()
        for c in cols:
            sdf = sdf.withColumn(c, self._mask_null_keys(
                F.col(c) - fn(c, abs(periods)).over(self._w_ord())))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def pct_change(self, periods: int = 1, cols: list[str] | None = None):
        cols = cols or self._value_cols(numeric_only=True)
        sdf = self._sdf_keep()
        for c in cols:
            prev = F.lag(c, periods).over(self._w_ord())
            sdf = sdf.withColumn(c, self._mask_null_keys(
                I.pct_change_col(F.col(c), prev)))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def ffill(self, cols: list[str] | None = None, limit: int | None = None):
        return self._method_fill("ffill", cols, limit)

    def bfill(self, cols: list[str] | None = None, limit: int | None = None):
        return self._method_fill("bfill", cols, limit)

    def _method_fill(self, method: str, cols, limit):
        from .operators.missing import _fill_exprs

        cols = cols or self._value_cols()
        sdf = self._sdf_keep()
        for c in cols:
            # null-key rows → NULL (pandas nulls them even when they
            # held a value: outside every group means no output)
            sdf = sdf.withColumn(c, self._mask_null_keys(
                _fill_exprs(c, method, limit, self._keys)))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    pad = ffill          # 0.24 groupby aliases
    backfill = bfill

    def take(self, indices: list[int]):
        """Positional rows WITHIN each group (``groupby.py`` take);
        negatives count from the group's end — one window pass, no
        collect."""
        w = self._w_ord()
        sdf = (self._sdf()
               .withColumn("__gpos__", F.row_number().over(w) - 1)
               .withColumn("__gn__", F.count(F.lit(1))
                           .over(W.partitionBy(*self._keys))))
        conds = [(F.col("__gpos__") == F.lit(int(i))) if i >= 0
                 else (F.col("__gpos__") == F.col("__gn__") + F.lit(int(i)))
                 for i in indices]
        if not conds:
            from .frame import Frame

            return Frame(sdf.filter(F.lit(False)).drop("__gpos__", "__gn__"),
                         self._frame._index_names)
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        from .frame import Frame

        return Frame(sdf.filter(cond).drop("__gpos__", "__gn__"),
                     self._frame._index_names)

    def tshift(self, periods: int = 1, freq: str = "1d", on: str | None = None):
        """Per-group tshift == frame tshift for fixed-tick freqs (the
        shift is group-independent)."""
        return self._frame.tshift(periods, freq, on)

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False, na_option: str = "keep",
             cols: list[str] | None = None):
        from .operators.ranks import rank_col

        cols = cols or self._value_cols(numeric_only=True)
        sdf = self._sdf_keep()
        for c in cols:
            sdf = sdf.withColumn(c, self._mask_null_keys(
                rank_col(F.col(c), method=method, ascending=ascending,
                         pct=pct, partition_by=self._keys,
                         na_option=na_option)))
        from .frame import Frame

        return Frame(sdf, self._frame._index_names)

    def head(self, n: int = 5):
        sdf = self._sdf().withColumn("__rn__", F.row_number().over(self._w_ord()))
        from .frame import Frame

        return Frame(sdf.filter(F.col("__rn__") <= n).drop("__rn__"), self._frame._index_names)

    def tail(self, n: int = 5):
        w = W.partitionBy(*self._keys).orderBy(F.col(I.ORDER_COL).desc())
        sdf = self._sdf().withColumn("__rn__", F.row_number().over(w))
        from .frame import Frame

        return Frame(sdf.filter(F.col("__rn__") <= n).drop("__rn__"), self._frame._index_names)

    def nth(self, n: int):
        sdf = self._sdf().withColumn("__rn__", F.row_number().over(self._w_ord()))
        from .frame import Frame

        return Frame(sdf.filter(F.col("__rn__") == n + 1).drop("__rn__"), self._frame._index_names)

    def resample(self, freq: str, on: str):
        """Grouped time-bin aggregation: ``df.groupby(k).resample(f)``
        — group keys + window bucket in ONE shuffle."""
        from .streaming.resample import Resampler

        return Resampler(self._frame, freq=freq, on=on, extra_keys=self._keys)

    def nunique_approx(self, rsd: float = 0.05):
        """approx_count_distinct (HLL) — the at-scale option the
        reference lacks (SURVEY §2.4: 'no approximate aggregates exist
        in reference')."""
        cols = self._value_cols()
        aggs = [F.approx_count_distinct(c, rsd).alias(c) for c in cols]
        return self._wrap(self._sdf().groupBy(*self._keys).agg(*aggs))

    def quantile_approx(self, q: float = 0.5, accuracy: int = 10000):
        cols = self._value_cols(numeric_only=True)
        aggs = [F.percentile_approx(c, q, accuracy).alias(c) for c in cols]
        return self._wrap(self._sdf().groupBy(*self._keys).agg(*aggs))

    # ---------------- grouped windows ----------------
    def rolling(self, window, min_periods: int | None = None, center: bool = False,
                on: str | None = None, closed: str | None = None,
                win_type: str | None = None, **win_args):
        from .window import Rolling

        return Rolling(self._frame, window, min_periods=min_periods, center=center,
                       on=on, closed=closed, win_type=win_type,
                       partition_by=self._keys, **win_args)

    def expanding(self, min_periods: int = 1):
        from .window import Expanding

        return Expanding(self._frame, min_periods=min_periods, partition_by=self._keys)

    def ewm(self, com=None, span=None, halflife=None, alpha=None,
            min_periods: int = 0, adjust: bool = True, ignore_na: bool = False):
        from .window import EWM

        return EWM(self._frame, com=com, span=span, halflife=halflife, alpha=alpha,
                   min_periods=min_periods, adjust=adjust, ignore_na=ignore_na,
                   partition_by=self._keys)

    def __getitem__(self, col):
        if isinstance(col, str):
            return SeriesGroupBy(self._frame, self._keys, col, dropna=self._dropna,
                                 as_index=self._as_index)
        sub = self._frame[self._keys + list(col)]
        return GroupBy(sub, self._keys, dropna=self._dropna, as_index=self._as_index)


class SeriesGroupBy:
    """Single-column grouped view (``core/groupby/generic.py:688``).

    ``transform``/``shift``/``cumsum``/``rank`` return Series anchored
    to the ORIGINAL frame (window expressions over the group keys) —
    the pandas ``df[c] - g[c].transform('mean')`` idiom works without
    any join."""

    def __init__(self, frame, keys: list[str], col: str, dropna: bool = True, as_index: bool = True):
        self._frame = frame
        self._keys = keys
        self._col = col
        self._dropna = dropna
        self._as_index = as_index

    def _series(self, scol: Column):
        from .series import Series

        return Series(self._frame, scol, self._col)

    def _mask(self, expr: Column) -> Column:
        """Null-key rows are outside every group under dropna=True —
        their transform/window output is NaN, not the null-partition
        value (pandas semantics; fuzz-caught on the frame GroupBy)."""
        if not self._dropna:
            return expr
        cond = None
        for k in self._keys:
            c = F.col(k).isNull()
            cond = c if cond is None else (cond | c)
        return F.when(cond, F.lit(None)).otherwise(expr)

    def transform(self, fn):
        if callable(fn):
            # grouped-map pandas UDF path (GroupBy._transform_callable)
            # — returns a Series of the TRANSFORMED frame (a callable
            # can't be a window expression over the original)
            g = GroupBy(self._frame, self._keys, dropna=self._dropna,
                        as_index=self._as_index)
            return g._transform_callable(fn, cols=[self._col])[self._col]
        c = F.col(self._col)
        if fn == "size":
            expr = F.count(F.lit(1)).over(W.partitionBy(*self._keys))
        elif fn == "nunique":
            # distinct aggregates aren't allowed over windows — a
            # collect_set is, and the per-group set is bounded by the
            # group's distinct values (fine wherever nunique itself is)
            expr = F.size(F.collect_set(c).over(W.partitionBy(*self._keys)))
        else:
            expr = with_neutral(fn, resolve_agg(fn, c).over(W.partitionBy(*self._keys)))
        return self._series(self._mask(expr))

    def shift(self, periods: int = 1):
        fn = F.lag if periods >= 0 else F.lead
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL)
        return self._series(self._mask(fn(self._col, abs(periods)).over(w)))

    def diff(self, periods: int = 1):
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL)
        fn = F.lag if periods >= 0 else F.lead
        return self._series(self._mask(
            F.col(self._col) - fn(self._col, abs(periods)).over(w)))

    def pct_change(self, periods: int = 1):
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL)
        fn = F.lag if periods >= 0 else F.lead
        prev = fn(self._col, abs(periods)).over(w)
        return self._series(self._mask(
            I.pct_change_col(F.col(self._col), prev)))

    def cumsum(self):
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL).rowsBetween(W.unboundedPreceding, W.currentRow)
        return self._series(self._mask(F.sum(self._col).over(w)))

    def cumcount(self):
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL)
        return self._series(self._mask(
            (F.row_number().over(w) - 1).cast("double")))

    def cummax(self):
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL).rowsBetween(W.unboundedPreceding, W.currentRow)
        return self._series(self._mask(F.max(self._col).over(w)))

    def cummin(self):
        w = W.partitionBy(*self._keys).orderBy(I.ORDER_COL).rowsBetween(W.unboundedPreceding, W.currentRow)
        return self._series(self._mask(F.min(self._col).over(w)))

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False,
             na_option: str = "keep"):
        from .operators.ranks import rank_col

        return self._series(self._mask(
            rank_col(F.col(self._col), method=method, ascending=ascending,
                     pct=pct, partition_by=self._keys, na_option=na_option)))

    def ffill(self, limit: int | None = None):
        from .operators.missing import _fill_exprs

        # null-key rows → NaN (pandas nulls them even when they held
        # a value: outside every group means no output)
        return self._series(self._mask(
            _fill_exprs(self._col, "ffill", limit, self._keys)))

    def bfill(self, limit: int | None = None):
        from .operators.missing import _fill_exprs

        return self._series(self._mask(
            _fill_exprs(self._col, "bfill", limit, self._keys)))

    pad = ffill          # 0.24 groupby aliases
    backfill = bfill

    def rolling(self, window, min_periods: int | None = None, center: bool = False,
                on: str | None = None, closed: str | None = None, win_type: str | None = None):
        from .window import Rolling

        return Rolling(self._frame, window, min_periods=min_periods, center=center, on=on,
                       closed=closed, partition_by=self._keys, series_col=self._col,
                       win_type=win_type)

    def expanding(self, min_periods: int = 1):
        from .window import Expanding

        return Expanding(self._frame, min_periods=min_periods, partition_by=self._keys,
                         series_col=self._col)

    def str_cat(self, sep: str = ""):
        """Series-collapse ``str.cat`` per group (``strings.py:1018``):
        order-deterministic via sort on the natural-order column."""
        items = F.collect_list(F.struct(F.col(I.ORDER_COL).alias("o"),
                                        F.col(self._col).alias("v")))
        joined = F.array_join(F.transform(F.array_sort(items), lambda s: s["v"]), sep)
        sdf = self._frame._sdf.dropna(subset=self._keys) if self._dropna else self._frame._sdf
        out = sdf.groupBy(*self._keys).agg(joined.alias(self._col))
        from .frame import Frame

        return Frame(out.orderBy(*self._keys))

    def _gb(self) -> GroupBy:
        return GroupBy(self._frame[self._keys + [self._col]], self._keys,
                       dropna=self._dropna, as_index=self._as_index)

    def agg(self, func=None, **named):
        return self._gb().agg(func, **named)

    def quantile(self, q: float = 0.5):
        return self._gb().quantile(q)

    def value_counts(self, normalize: bool = False, ascending: bool = False,
                     dropna: bool = True):
        """Per-group value histogram (``generic.py`` SeriesGroupBy):
        one hash aggregation on (keys, value); desc count then value
        asc — pandas tie order. ``dropna=True`` (pandas default)
        excludes null VALUES, not just null keys."""
        sdf = self._frame._sdf.dropna(subset=self._keys) if self._dropna \
            else self._frame._sdf
        if dropna:
            sdf = sdf.filter(F.col(self._col).isNotNull())
        counts = (sdf.groupBy(*self._keys, self._col)
                  .agg(F.count(F.lit(1)).alias("count")))
        if normalize:
            tot = F.sum("count").over(W.partitionBy(*self._keys))
            counts = counts.withColumn("count", F.col("count") / tot)
        order = [F.col("count").asc() if ascending else F.col("count").desc(),
                 F.col(self._col).asc()]
        from .frame import Frame

        return Frame(counts.orderBy(*[F.col(k) for k in self._keys], *order))

    def __getattr__(self, name):
        if name.startswith("_"):
            raise AttributeError(name)
        gb = self._gb()
        if hasattr(gb, name):
            return getattr(gb, name)
        raise AttributeError(name)
