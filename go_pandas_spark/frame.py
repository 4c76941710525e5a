"""Frame: the pandas-like DataFrame over a Spark DataFrame.

Reference parity: ``pandas/core/frame.py:287`` (DataFrame) and the
generic operator surface of ``pandas/core/generic.py:92``. Storage is
a lazy Catalyst plan — the reference's eager model is an API illusion
we keep (SURVEY.md §7 invariant 4); nothing executes until a
collect-class action.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame as SparkDataFrame, Window as W, functions as F

import itertools

from . import _internal as I
from .series import Series, _is_scalar_int, _is_scalar_zero

_DUP_SEQ = itertools.count()
_AUG_SEQ = itertools.count(1)


def _dup_phys(label) -> str:
    """Fresh unique physical column name for one occurrence of a
    duplicate label (globally sequenced so concat/merge of two
    dup-labeled frames can't collide). The label portion is SANITIZED
    (ADVICE r11 #4): dots/backticks/spaces in a raw label would make
    the later ``F.col`` references unresolvable (Spark reads ``.`` as
    struct access) — the original label lives only in ``_dup_labels``."""
    import re

    safe = re.sub(r"\W", "_", str(label))[:40]
    return f"__dup{next(_DUP_SEQ)}_{safe}__"


def _dup_aliases(picks):
    """(source Column-name/expr, label) pairs → (aliased selection,
    dup-label map). ONLY labels that actually repeat get fresh dup
    physical names; unique labels keep their plain name, so ordinary
    by-name ops (sort_values, groupby, arithmetic) on the non-dup
    columns of a dup-labeled frame keep resolving. Labels are str()-
    coerced (pandas allows ``set_axis([0, 0, 1], axis=1)``; Spark
    aliases must be strings — same coercion ``from_pandas`` applies)."""
    from collections import Counter

    picks = [(c, str(lab)) for c, lab in picks]
    counts = Counter(lab for _, lab in picks)
    dup: dict[str, str] = {}
    sel = []
    for c, lab in picks:
        expr = F.col(c) if isinstance(c, str) else c
        if counts[lab] > 1:
            p = _dup_phys(lab)
            dup[p] = lab
            sel.append(expr.alias(p))
        else:
            sel.append(expr.alias(lab))
    return sel, (dup or None)


def _float_dt(dt) -> bool:
    return dt is not None and (dt in ("double", "float") or dt.startswith("decimal"))


def _typed_floordiv(other, rev: bool, filled: bool = False):
    """Per-column ``//`` chooser with pandas FRAME zero-division
    rules: frame ops mask int zero-division to float ±inf/NaN (unlike
    Series ÷ Series, numpy's int 0) — EXCEPT under ``fill_value``,
    where pandas' fill_binop routes frame÷frame back to numpy int
    semantics. A scalar operand stays masked even with fill_value;
    only a literal non-zero int divisor keeps the int dtype. (A
    pandas int column can never hold NaN, so "int column + fill" is
    always the nothing-to-fill case there; an engine NULLABLE int
    column with a float fill has no pandas analog — pandas would
    already be float64, which the dtype check here masks.)"""
    def fn(a, b, lt, rt):
        is_f = _float_dt(lt) or _float_dt(rt) or (rt is None and isinstance(other, float))
        int_keep = not is_f and (
            (rt is None and not rev and _is_scalar_int(other) and int(other) != 0)
            or (rt is not None and filled))
        if int_keep:
            num, den = (b, a) if rev else (a, b)
            return (F.when(den == 0, F.lit(0).cast("long"))
                    .otherwise(F.floor(num / den)))
        return I.floor_div_col(b, a) if rev else I.floor_div_col(a, b)

    return fn


def _typed_mod(other, rev: bool, filled: bool = False):
    """Per-column ``%`` chooser (pandas FRAME rules): Python sign
    everywhere; zero divisors mask to NaN float, except frame÷frame
    under ``fill_value`` (numpy int: 0) and a literal non-zero int
    divisor (int kept)."""
    def fn(a, b, lt, rt):
        num, den = (b, a) if rev else (a, b)
        pymod = ((num % den) + den) % den
        is_f = _float_dt(lt) or _float_dt(rt) or (rt is None and isinstance(other, float))
        if is_f:
            return pymod  # float column: Spark NULL at den=0 renders NaN
        if (rt is None and not rev and _is_scalar_int(other) and int(other) != 0):
            return pymod
        if rt is not None and filled:
            return F.when(den == 0, F.lit(0).cast("long")).otherwise(pymod)
        return (F.when(den == 0, F.lit(float("nan")))
                .otherwise(pymod.cast("double")))

    return fn


class Frame:
    """A labeled 2-D table = Spark DataFrame + index columns + order.

    ``index_names``: labels of the index columns (len == number of
    ``__index_i__`` columns in the plan; empty = positional
    RangeIndex analog, nothing materialized).
    """

    def __init__(self, sdf: SparkDataFrame, index_names: Sequence[str | None] = (),
                 col_labels: Mapping[str, tuple] | None = None,
                 dup_labels: Mapping[str, str] | None = None):  # noqa: D401
        self._sdf = I.attach_order(sdf)
        self._index_names = list(index_names)
        # MultiIndex-columns metadata (SURVEY §1.4 "column-label
        # objects"): physical name -> tuple label. None = single-level.
        # Physical names stay flat and unique — Spark never sees
        # tuples; metadata-aware ops (reshape, tuple selection,
        # droplevel/swaplevel) read this map, everything else operates
        # on physical names.
        self._col_labels: dict[str, tuple] | None = dict(col_labels) if col_labels else None
        # Duplicate-label metadata (r11; reference managers.py:1947
        # items_overlap_with_suffix + frame.py getitem allow duplicate
        # labels everywhere): physical name -> single-level label, set
        # only when the frame carries duplicate labels. Physical names
        # stay unique (``__dupN_label__``) so every kernel keeps its
        # unambiguous Spark columns; label-aware surfaces (getitem,
        # setitem, drop, rename, concat axis=1, merge suffixing,
        # to_pandas/to_spark) translate. Mutually exclusive with
        # _col_labels ON ONE FRAME; duplicate TUPLE labels are instead
        # representable directly in _col_labels (r13: repeated tuple
        # VALUES under distinct physical keys — reference
        # indexes/multi.py:122 codes allow repeats), produced by
        # concat(axis=1) of overlapping MultiIndex frames.
        self._dup_labels: dict[str, str] | None = dict(dup_labels) if dup_labels else None

    # ---------------- construction / interchange ----------------
    @classmethod
    def from_spark(cls, sdf: SparkDataFrame) -> "Frame":
        return cls(sdf)

    @classmethod
    def from_pandas(cls, spark, pdf) -> "Frame":
        if getattr(pdf.columns, "duplicated", None) is not None and \
                pdf.columns.duplicated().any():
            # duplicate labels: ship the REPEATED labels under unique
            # physical names, keep the label map (reference allows
            # duplicates everywhere); unique labels stay plain so
            # by-name ops on them keep resolving
            from collections import Counter

            labels = [str(c) for c in pdf.columns]
            counts = Counter(labels)
            phys = [_dup_phys(lab) if counts[lab] > 1 else lab
                    for lab in labels]
            pdf = pdf.copy(deep=False)
            pdf.columns = phys
            out = cls.from_pandas(spark, pdf)
            out._dup_labels = {p: lab for p, lab in zip(phys, labels)
                               if p != lab}
            return out
        if len(pdf) == 0:
            # schema inference needs rows — build it from pandas dtypes
            from pyspark.sql.types import StructType

            from .functions.dtypes import pandas_dtype_to_spark

            schema = StructType()
            for c in pdf.columns:
                schema.add(str(c), pandas_dtype_to_spark(pdf.dtypes[c]))
            return cls(spark.createDataFrame([], schema))
        return cls(spark.createDataFrame(pdf))

    @classmethod
    def from_records(cls, spark, data, columns: list[str] | None = None) -> "Frame":
        """``frame.py:1555`` from_records — list of tuples/dicts or a
        numpy structured array, Arrow-shipped through pandas."""
        import pandas as pd

        return cls.from_pandas(spark, pd.DataFrame.from_records(data, columns=columns))

    @classmethod
    def from_dict(cls, spark, data: dict, orient: str = "columns") -> "Frame":
        """``frame.py:1432`` from_dict (orient='columns'/'index')."""
        import pandas as pd

        pdf = pd.DataFrame.from_dict(data, orient=orient)
        if orient == "index":
            pdf = pdf.reset_index()
        return cls.from_pandas(spark, pdf)

    def to_spark(self, index: bool = False) -> SparkDataFrame:
        """The user-visible Spark DataFrame (internal columns dropped).
        Duplicate labels surface as duplicate output names (Spark
        allows them structurally; select-by-name on the result is the
        caller's ambiguity, same as pandas)."""
        cols = []
        if index:
            for i, nm in enumerate(self._index_names):
                cols.append(F.col(I.index_col(i)).alias(nm or f"level_{i}"))
        dup = self._dup_labels or {}
        cols += [F.col(c).alias(dup[c]) if c in dup else F.col(c)
                 for c in self._phys_cols]
        return self._sdf.select(*cols)

    def to_pandas(self):
        pdf = self._sdf.orderBy(I.ORDER_COL).toPandas()
        idx = [I.index_col(i) for i in range(len(self._index_names))]
        if idx:
            pdf = pdf.set_index(idx)
            pdf.index.names = self._index_names
        pdf = pdf.drop(columns=[c for c in pdf.columns if I.is_internal(c)])
        if self._dup_labels:
            pdf.columns = [self._dup_labels.get(c, c) for c in pdf.columns]
            return pdf
        if self._col_labels:
            import pandas as pd

            nlev = max(len(t) for t in self._col_labels.values())
            pdf.columns = pd.MultiIndex.from_tuples([
                self._col_labels.get(c, (c,) + ("",) * (nlev - 1)) for c in pdf.columns])
        return pdf

    # ---------------- schema ----------------
    @property
    def columns(self) -> list[str]:
        cols = I.data_columns(self._sdf)
        if self._dup_labels:
            return [self._dup_labels.get(c, c) for c in cols]
        return cols

    @property
    def _phys_cols(self) -> list[str]:
        """Physical (always-unique) data column names — what Spark
        expressions must reference on a dup-labeled frame."""
        return I.data_columns(self._sdf)

    def _phys_for_label(self, label) -> list[str]:
        """Every physical column carrying ``label`` (>1 on duplicate
        labels; [] when absent)."""
        dup = self._dup_labels or {}
        return [c for c in I.data_columns(self._sdf)
                if dup.get(c, c) == label]

    def _dup_key(self, label):
        """Physical name for a label used as a KEY (sort / groupby /
        named agg). Column-subsetting ops (dropna(axis=1),
        select_dtypes, filter) can strand a now-unique label on its
        ``__dupN__`` physical name — ``F.col(label)`` would then be
        unresolvable. Ambiguous (>1) labels are the caller's error."""
        phys = self._phys_for_label(label)
        return phys[0] if len(phys) == 1 and phys[0] != label else label

    @property
    def index_spark_cols(self) -> list[str]:
        return [I.index_col(i) for i in range(len(self._index_names))]

    @property
    def dtypes(self) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in self._sdf.schema.fields if not I.is_internal(f.name)}

    def __len__(self) -> int:
        # A COUNT job per call — deliberate (the frame is lazy; there
        # is no row count without running the plan). Hot loops should
        # call len() once, not per iteration.
        return self._sdf.count()

    def count(self, axis: int = 0):
        """pandas semantics (``frame.py:7050``): per-column NON-NULL
        counts — one agg job. ``axis=1`` = per-row non-null count
        across the columns, as a Series (pure expression, no job).
        Row count is ``len(frame)``."""
        if axis in (1, "columns"):
            from .series import Series

            e = None
            for c in self._phys_cols:
                t = F.col(c).isNotNull().cast("long")
                e = t if e is None else e + t
            return Series(self, e, None)
        if self._dup_labels:  # dup labels can't key a dict — Series
            return self._reduce(lambda c: F.count(F.col(c)),
                                numeric_only=False).astype("int64")
        row = self._sdf.agg(*[F.count(F.col(c)).alias(c) for c in self.columns]).first()
        return {c: int(row[c]) for c in self.columns}

    @property
    def empty(self) -> bool:
        return self._sdf.isEmpty()

    def _augment(self, kernel) -> Column:
        """Anchor augmentation — how Series order ops (shift/cum*/rank/
        rolling/expanding) and row positions run on the frame kernels
        while the result stays a Column of THIS frame:
        ``kernel(sdf, tmp)`` returns the anchor's plan (rows and order
        ids unchanged) plus an internal column ``tmp``; that becomes
        the anchor's plan and the returned Column reads ``tmp``, so
        assign()/to_frame()/filters keep composing without a join.

        SIDE EFFECT (deliberate): ``self._sdf`` is rebound IN PLACE —
        even if the result is discarded, the anchor keeps the pinned
        blocked plan plus one internal ``__index_serw*`` column. A
        copy-on-write anchor would force an index-alignment JOIN
        whenever the result meets the frame's own columns (the common
        case). Callers must therefore read ``self._sdf`` AFTER this
        returns. Cost: an internal column public projections never
        see, and the kernel's pin of the anchor (released by
        ``clear_cache()``).

        The anchor is registered live (its plan reads pins) but NOT
        tagged as a blocked output: the next op on it reads the ids
        this op's kernel froze (``I.ids_frozen``) instead of pinning
        the grown plan once more — a pin per op would nest cached
        plans, whose printed form doubles per level."""
        from .operators.distwindow import consume_chained

        tmp = f"{I.INDEX_PREFIX}serw{next(_AUG_SEQ)}__"
        self._sdf = kernel(consume_chained(self), tmp)
        I.register_live_blocked(self)
        return F.col(tmp)

    def _position_col(self) -> Column:
        """TRUE 0-based row position along the frame order, as an
        internal column of this frame (``_augment`` over
        ``distwindow.row_position``). ``__order__`` itself is
        ``monotonically_increasing_id`` bits — (partition << 33) +
        offset — NEVER a position on a multi-partition frame; exposing
        it as a pandas label silently corrupts every positional
        consumer."""
        from .operators.distwindow import row_position

        return self._augment(row_position)

    @property
    def index(self) -> "Series":
        """The row labels as a Series (first index level; the TRUE
        0-based order position when no index is set) — supports
        .tolist(), comparisons, isin, etc. like a pandas Index."""
        if self._index_names:
            return Series(self, F.col(I.index_col(0)), self._index_names[0])
        return Series(self, self._position_col(), None)

    def info(self) -> str:
        """Driver-side summary (``frame.py:2252`` analog): dtypes,
        non-null counts, estimated bytes. One agg job; returns the
        string (and prints it)."""
        dtypes = self.dtypes
        counts = self.count()
        mem = self.memory_usage()
        lines = [f"<class 'go_pandas_spark.Frame'>",
                 f"Columns: {len(dtypes)} entries",
                 f"{'column':<24}{'non-null':>10}  {'dtype':<12}{'est. bytes':>12}"]
        for c in self.columns:
            lines.append(f"{c:<24}{counts[c]:>10}  {dtypes[c]:<12}{mem[c]:>12}")
        out = "\n".join(lines)
        print(out)
        return out

    @property
    def column_labels(self) -> list:
        """Column labels: tuples for MultiIndex columns, else the
        physical names."""
        if not self._col_labels:
            return list(self.columns)
        return [self._col_labels.get(c, c) for c in self.columns]

    def droplevel_columns(self, level: int = 0) -> "Frame":
        """Drop one level of the column MultiIndex (``frame.py:4863``
        family). Collapses to single-level names when one level
        remains; duplicate collapsed labels raise (Spark cannot hold
        duplicate column names)."""
        if not self._col_labels:
            raise ValueError("columns are single-level")
        new, renames = {}, {}
        for phys, lab in self._col_labels.items():
            rest = tuple(v for i, v in enumerate(lab) if i != level)
            if len(rest) == 1:
                if rest[0] in renames.values():
                    raise ValueError(f"duplicate label {rest[0]!r} after droplevel")
                renames[phys] = str(rest[0])
            else:
                new[phys] = rest
        sdf = self._sdf
        for old, nw in renames.items():
            sdf = sdf.withColumnRenamed(old, nw)
        return Frame(sdf, self._index_names, new or None)

    def swaplevel_columns(self, i: int = 0, j: int = 1) -> "Frame":
        """Swap two levels of the column MultiIndex (metadata-only —
        zero plan change)."""
        if not self._col_labels:
            raise ValueError("columns are single-level")

        def swap(t: tuple) -> tuple:
            out = list(t)
            out[i], out[j] = out[j], out[i]
            return tuple(out)

        return Frame(self._sdf, self._index_names,
                     {c: swap(t) for c, t in self._col_labels.items()})

    # ---------------- internal helpers ----------------
    def _derived(self, out: "Frame") -> "Frame":
        """Blocked-output liveness follows derivation (ADVICE r11 #1):
        a frame built from a registered blocked output's plan holds
        the same un-collected lazy subtree, so pin LRU eviction (and
        the clear_cache warning) must see it as live too — otherwise
        collecting only the ORIGINAL frames lets eviction unpersist a
        pin the derived frame's pending plan still reads, reopening
        the AQE order-id race."""
        if id(self) in I._LIVE_BLOCKED:
            I.register_live_blocked(out)
        return out

    def _copy(self, sdf: SparkDataFrame, index_names=None) -> "Frame":
        out = Frame(sdf, self._index_names if index_names is None else index_names)
        if self._col_labels:
            present = set(I.data_columns(sdf))
            kept = {c: t for c, t in self._col_labels.items() if c in present}
            out._col_labels = kept or None
        if self._dup_labels:
            present = set(I.data_columns(sdf))
            kept = {c: lab for c, lab in self._dup_labels.items()
                    if c in present}
            out._dup_labels = kept or None
        return self._derived(out)

    def _with_only(self, named_scols: list[tuple[str, Column]]) -> "Frame":
        keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
        return self._copy(self._sdf.select(*keep, *[c.alias(n) for n, c in named_scols]))

    def _scol(self, name: str) -> Column:
        return self._sdf[name]

    # ---------------- selection ----------------
    def __getitem__(self, key):
        if isinstance(key, str) and self._dup_labels:
            phys = self._phys_for_label(key)
            if not phys:
                raise KeyError(key)
            if len(phys) == 1:
                return Series(self, self._sdf[phys[0]], key)
            # duplicate label -> a Frame of every occurrence (pandas
            # frame.py getitem contract on duplicate columns)
            keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
            sel = self._sdf.select(*keep, *[F.col(c) for c in phys])
            return self._derived(Frame(sel, self._index_names,
                                       dup_labels={c: key for c in phys}))
        if isinstance(key, str):
            if key not in self._sdf.columns:
                if self._col_labels:  # partial selection by outer level
                    sub = {c: t[1:] if len(t) > 2 else str(t[1])
                           for c, t in self._col_labels.items() if t[0] == key}
                    if sub:
                        keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
                        if all(isinstance(lab, str) for lab in sub.values()):
                            # stripping the outer level can leave
                            # duplicate inner labels (dup-tuple frames,
                            # r13) — route through the dup machinery;
                            # unique labels keep plain names as before
                            sel, dup = _dup_aliases(list(sub.items()))
                            return self._derived(Frame(
                                self._sdf.select(*keep, *sel),
                                self._index_names, dup_labels=dup))
                        renames = {c: lab for c, lab in sub.items() if isinstance(lab, str)}
                        sel = self._sdf.select(
                            *keep, *[F.col(c).alias(renames.get(c, c)) for c in sub])
                        labels = {c: lab for c, lab in sub.items() if isinstance(lab, tuple)}
                        return Frame(sel, self._index_names, labels or None)
                raise KeyError(key)
            return Series(self, self._sdf[key], key)
        if isinstance(key, tuple) and self._col_labels:  # exact tuple label
            phys = [p for p, lab in self._col_labels.items() if lab == key]
            if len(phys) == 1:
                return Series(self, self._sdf[phys[0]], phys[0])
            if phys:
                # duplicate tuple label -> a Frame of every occurrence
                # (same contract as flat dup-label getitem, r13)
                keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
                sel = self._sdf.select(*keep, *[F.col(c) for c in phys])
                return self._derived(Frame(sel, self._index_names,
                                           col_labels={c: key for c in phys}))
            raise KeyError(key)
        if callable(key) and not isinstance(key, Series):
            # pandas method-chaining: df[lambda d: d["v"] > 2]
            return self[key(self)]
        if isinstance(key, Series):  # boolean mask → filter
            return self._copy(self._sdf.filter(key._scol))
        if isinstance(key, (list, tuple)):
            keys = list(key)
            if self._dup_labels or len(set(keys)) != len(keys):
                return self._select_dup_labels(keys)
            keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
            return self._copy(self._sdf.select(*keep, *[F.col(c) for c in key]))
        raise TypeError(f"unsupported key: {type(key)}")

    def _select_dup_labels(self, keys: list) -> "Frame":
        """List selection when duplicate labels are involved — in the
        frame (a requested label selects EVERY occurrence, pandas
        getitem on duplicate columns) or in the request itself
        (``df[['a','a']]`` duplicates the column). Output occurrences
        get fresh unique physical names whenever the selected labels
        repeat."""
        picks: list[tuple[str, str]] = []  # (source physical, label)
        for k in keys:
            phys = self._phys_for_label(k)
            if not phys:
                raise KeyError(k)
            picks.extend((c, k) for c in phys)
        keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
        sel, dup = _dup_aliases(picks)
        return self._derived(Frame(self._sdf.select(*keep, *sel),
                                   self._index_names, dup_labels=dup))

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        if name in self.columns:
            return self[name]
        raise AttributeError(name)

    def __setitem__(self, key: str, value) -> None:
        # In-place plan mutation invalidates the top-k fusion memo:
        # head()/tail() must see the assigned column, not the pre-sort plan.
        self.__dict__.pop("_presort", None)
        if self._dup_labels:
            phys = self._phys_for_label(key)
            if len(phys) > 1:
                # pandas sets EVERY occurrence of a duplicate label
                col = (value._scol if isinstance(value, Series)
                       else value if isinstance(value, Column)
                       else F.lit(value))
                out = self._sdf
                for p in phys:
                    out = out.withColumn(p, col)
                self._sdf = out
                return
            if len(phys) == 1:
                self._sdf = self._assigned_sdf(phys[0], value)
                return
        self._sdf = self._assigned_sdf(key, value)

    def _assigned_sdf(self, key: str, value) -> SparkDataFrame:
        if isinstance(value, Series):
            # Columns resolve by attribute id, so a Series anchored to an
            # ancestor plan of self._sdf stays valid; a genuinely foreign
            # Series fails Spark analysis (align via merge in that case).
            col = value._scol
        elif isinstance(value, Column):
            col = value
        else:
            col = F.lit(value)
        return self._sdf.withColumn(key, col)

    def insert(self, loc: int, column: str, value) -> None:
        """``frame.py:3328`` — in-place positional column insert: one
        projection reorder, no data movement."""
        if column in self.columns:
            raise ValueError(f"cannot insert {column!r}, already exists")
        if isinstance(value, Series):
            col = value._scol
        elif isinstance(value, Column):
            col = value
        else:
            col = F.lit(value)
        cols = self.columns
        cols.insert(loc, column)
        internal = [c for c in self._sdf.columns if I.is_internal(c)]
        sdf = self._sdf.withColumn(column, col)
        self._sdf = sdf.select(*cols, *internal)

    def assign(self, **kwargs) -> "Frame":
        """``frame.py:3349`` — add/replace columns, returns new Frame."""
        out = self._sdf
        res = self._copy(out)
        for k, v in kwargs.items():
            if callable(v):
                v = v(res)
            res._sdf = res._assigned_sdf(k, v)
        return res

    def filter_rows(self, cond) -> "Frame":
        cond = cond._scol if isinstance(cond, Series) else cond
        return self._copy(self._sdf.filter(cond))

    def query(self, expr: str, local_dict: dict | None = None, **locals_) -> "Frame":
        """pandas-dialect string query → Spark SQL filter (SURVEY §3.1).
        ``@name`` resolves from ``local_dict`` (pandas kwarg) merged
        with any extra keyword arguments."""
        from .plans.query_eval import translate_expr

        scope = dict(local_dict or {})
        scope.update(locals_)
        return self._copy(self._sdf.filter(F.expr(translate_expr(expr, self.columns, scope))))

    def eval(self, expr: str, local_dict: dict | None = None, **locals_) -> "Frame":
        """Column-assignment expressions: ``"c = a + b"`` (``frame.py:2978``)."""
        from .plans.query_eval import translate_assignments

        scope = dict(local_dict or {})
        scope.update(locals_)
        out = self._sdf
        for target, sql in translate_assignments(expr, self.columns, scope):
            out = out.withColumn(target, F.expr(sql))
        return self._copy(out)

    def where(self, cond, other=None) -> "Frame":
        """``generic.py:8466`` — keep where cond, else ``other``.
        ``cond`` may be a boolean Series, Column, or callable(frame)."""
        if callable(cond) and not isinstance(cond, (Series, Column)):
            cond = cond(self)
        cond_col = cond._scol if isinstance(cond, Series) else cond
        # ONE projection against the original attributes: chained
        # withColumn would rewrite the cond's own source column and
        # orphan the condition for every column after it (r12-caught:
        # where(f["b"] > 1) on a frame whose "b" is not the last column)
        internal = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
        out = self._sdf.select(
            *internal,
            *[F.when(cond_col, F.col(c)).otherwise(F.lit(other)).alias(c)
              for c in self._phys_cols])
        return self._copy(out)

    def mask(self, cond, other=None) -> "Frame":
        if callable(cond) and not isinstance(cond, (Series, Column)):
            cond = cond(self)
        cond_col = cond._scol if isinstance(cond, Series) else cond
        return self.where(Series(self, ~cond_col), other)

    def filter(self, items=None, like=None, regex=None) -> "Frame":
        """Column-name selection (``generic.py:4175``) — driver-side on schema."""
        import re

        if items is not None:
            # pandas keeps the ITEMS order, not the frame order
            have = set(self.columns)
            sel = [c for c in items if c in have]
        elif like is not None:
            # dedupe: a duplicated label matches once and the selection
            # below expands it to every occurrence
            sel = list(dict.fromkeys(c for c in self.columns if like in c))
        elif regex is not None:
            pat = re.compile(regex)
            sel = list(dict.fromkeys(c for c in self.columns if pat.search(c)))
        else:
            raise TypeError("must pass items, like, or regex")
        return self[sel]

    def select_dtypes(self, include=None, exclude=None) -> "Frame":
        from .functions.dtypes import dtype_family

        # pandas accepts a scalar dtype-like or a list; a bare string
        # must not be iterated character-by-character
        include = [include] if isinstance(include, str) else (include or [])
        exclude = [exclude] if isinstance(exclude, str) else (exclude or [])
        inc = {dtype_family(d) for d in include}
        exc = {dtype_family(d) for d in exclude}
        sel = []
        for name, dt in self.dtypes.items():  # physical names
            fam = dtype_family(dt)
            if inc and fam not in inc:
                continue
            if fam in exc:
                continue
            sel.append(name)
        internal = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
        return self._copy(self._sdf.select(*internal,
                                           *[F.col(c) for c in sel]))

    def drop(self, columns: str | list[str] | None = None, index=None) -> "Frame":
        """``frame.py:3667``: drop columns and/or rows by index label."""
        out = self._sdf
        if index is not None:
            if not self._index_names:
                raise ValueError("drop(index=...) requires an index")
            labels = [index] if not isinstance(index, (list, tuple, set)) else list(index)
            ic = F.col(I.index_col(0))
            # keep null-labeled rows: ~isin is three-valued (null → null
            # → filtered), but pandas only drops the LISTED labels
            out = out.filter(~ic.isin(labels) | ic.isNull())
        if columns is not None:
            cols = [columns] if isinstance(columns, str) else list(columns)
            if self._dup_labels:
                # a dropped label drops EVERY physical occurrence
                cols = [p for lab in cols for p in
                        (self._phys_for_label(lab) or [lab])]
            out = out.drop(*cols)
        return self._copy(out)

    def rename(self, columns=None, index=None) -> "Frame":
        """``frame.py:3781``: column mapping (dict or callable); dict
        ``index=`` relabels row-index values via a when-chain."""
        out = self._sdf
        out_dup: dict[str, str] | None = None
        dup_path = False
        if columns is not None:
            mapping = columns if isinstance(columns, Mapping) else \
                {c: columns(c) for c in self.columns}
            dup = self._dup_labels or {}
            phys = self._phys_cols
            new_labels = [mapping.get(dup.get(c, c), dup.get(c, c))
                          for c in phys]
            if dup or len(set(new_labels)) != len(new_labels):
                # label-level rename on a dup frame, or a rename that
                # CREATES duplicate labels (pandas allows both)
                dup_path = True
                keep = [F.col(c) for c in out.columns if I.is_internal(c)]
                sel, out_dup = _dup_aliases(list(zip(phys, new_labels)))
                out = out.select(*keep, *sel)
            else:
                for old, new in mapping.items():
                    out = out.withColumnRenamed(old, str(new))
        if index is not None:
            if not self._index_names:
                raise ValueError("rename(index=...) requires an index")
            ic = I.index_col(0)
            if isinstance(index, Mapping):
                expr = F.col(ic)
                for old, new in index.items():
                    expr = F.when(F.col(ic) == F.lit(old), F.lit(new)).otherwise(expr)
                out = out.withColumn(ic, expr)
            else:  # callable — needs an expression-safe function; route
                raise TypeError("rename(index=callable) is not supported — "
                                "use a dict mapping of labels")
        if dup_path:
            return self._derived(
                Frame(out, self._index_names, dup_labels=out_dup))
        return self._copy(out)

    def astype(self, dtype) -> "Frame":
        from .functions.dtypes import to_spark_type

        mapping = dtype if isinstance(dtype, Mapping) else \
            {c: dtype for c in dict.fromkeys(self.columns)}
        out = self._sdf
        for c, dt in mapping.items():
            # a duplicate label casts EVERY physical occurrence
            for t in (self._phys_for_label(c) or [c]):
                out = out.withColumn(t, F.col(t).cast(to_spark_type(dt)))
        return self._copy(out)

    # ---------------- positional / sampling ----------------
    def head(self, n: int = 5) -> "Frame":
        if n < 0:
            # pandas: head(-k) = all but the LAST k rows (one count job)
            n = max(len(self) + n, 0)
        presort = getattr(self, "_presort", None)
        if presort is not None:
            pre, by, asc, na_pos = presort
            exprs = Frame._sort_exprs(self, by, asc, na_pos) + [F.col(I.ORDER_COL)]
            taken = (pre.orderBy(*exprs).limit(n)
                     .drop(I.ORDER_COL).withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
            return self._copy(taken)
        return self._copy(self._sdf.orderBy(I.ORDER_COL).limit(n))

    def tail(self, n: int = 5) -> "Frame":
        if n < 0:
            # pandas: tail(-k) = all but the FIRST k rows
            n = max(len(self) + n, 0)
        presort = getattr(self, "_presort", None)
        if presort is not None:  # reverse-order TakeOrdered, then re-sort
            pre, by, asc, na_pos = presort
            asc = [asc] * len(by) if isinstance(asc, bool) else list(asc)
            rev = Frame._sort_exprs(self, by, [not a for a in asc],
                                    "first" if na_pos == "last" else "last")
            fwd = Frame._sort_exprs(self, by, asc, na_pos) + [F.col(I.ORDER_COL)]
            taken = pre.orderBy(*rev, F.col(I.ORDER_COL).desc()).limit(n)
            taken = (taken.orderBy(*fwd)
                     .drop(I.ORDER_COL).withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
            return self._copy(taken)
        taken = self._sdf.orderBy(F.col(I.ORDER_COL).desc()).limit(n)
        return self._copy(taken.orderBy(I.ORDER_COL))

    def sample(self, frac: float | None = None, n: int | None = None,
               seed: int | None = None, replace: bool = False) -> "Frame":
        """``generic.py:4982``. ``frac`` samples distributed;
        ``n`` draws an exact count via a seeded random sort + limit
        (a top-k, not a full sort collect)."""
        if n is not None:
            if frac is not None:
                raise ValueError("pass either n or frac, not both")
            sdf = (self._sdf.withColumn("__r__", F.rand(seed))
                   .orderBy("__r__").limit(n).drop("__r__"))
            return self._copy(sdf)
        return self._copy(self._sdf.sample(withReplacement=replace, fraction=frac, seed=seed))

    class _ScalarIndexer:
        """pandas-style subscript for at/iat: ``df.at[label, col]``."""

        def __init__(self, fn):
            self._fn = fn

        def __getitem__(self, key):
            if not (isinstance(key, tuple) and len(key) == 2):
                raise ValueError("scalar access needs [row, column]")
            return self._fn(*key)

        def __call__(self, *key):  # method-call form kept for compat
            return self._fn(*key)

    @property
    def at(self):
        """Label-based scalar access (``indexing.py:2096``) — filter on
        the index column + driver collect of one value."""
        def get(label, column: str):
            if not self._index_names:
                raise ValueError("at needs an index — call set_index first")
            row = (self._sdf.filter(F.col(I.index_col(0)) == F.lit(label))
                   .select(column).first())
            if row is None:
                raise KeyError(label)
            return row[0]

        return Frame._ScalarIndexer(get)

    @property
    def loc(self):
        """Label indexer (``_LocIndexer``, ``indexing.py:1537``):
        inclusive label slices, label lists with KeyError, boolean
        masks, column selection, and the conditional-update setter."""
        from .indexing import _LocIndexer

        return _LocIndexer(self)

    @property
    def iloc(self):
        """Positional indexer (``_iLocIndexer``, ``indexing.py:1912``):
        ints (negative ok), lists, slices with step."""
        from .indexing import _ILocIndexer

        return _ILocIndexer(self)

    def iloc_slice(self, start: int, stop: int) -> "Frame":
        """Positional row slice (``_iLocIndexer``, ``indexing.py:1912``):
        blocked distributed position + range filter (no single-task
        global window)."""
        from .operators.distwindow import row_position

        sdf = row_position(self._sdf, "__rn__").filter(
            (F.col("__rn__") >= start) & (F.col("__rn__") < stop)).drop("__rn__")
        return self._copy(sdf)

    @property
    def iat(self):
        """Scalar positional access (``indexing.py:2357``) — filter +
        driver collect (inherently a driver op). Accepts the column by
        position (pandas) or by name (engine extra)."""
        def get(row: int, column):
            col = self.columns[column] if isinstance(column, int) else column
            return self.iloc_slice(row, row + 1)._sdf.select(col).first()[0]

        return Frame._ScalarIndexer(get)

    def limit(self, n: int) -> "Frame":
        return self.head(n)

    # ---------------- sorting / top-k ----------------
    def _sort_exprs(self, by: list[str], ascending, na_position: str) -> list[Column]:
        if isinstance(ascending, bool):
            ascending = [ascending] * len(by)
        exprs = []
        for c, asc in zip(by, ascending):
            col = F.col(c)
            if asc:
                exprs.append(col.asc_nulls_last() if na_position == "last" else col.asc_nulls_first())
            else:
                exprs.append(col.desc_nulls_last() if na_position == "last" else col.desc_nulls_first())
        return exprs

    def sort_values(self, by, ascending=True, na_position: str = "last") -> "Frame":
        """``frame.py:4543``. Stability: pandas sorts are stable for
        kind='mergesort'; Spark's sort is not — we append the previous
        order column as the final tiebreaker, which makes the sort
        stable by construction and re-derive the order contract from
        the new sort order."""
        by = [by] if isinstance(by, str) else list(by)
        if self._dup_labels:
            for b in by:
                if len(self._phys_for_label(b)) > 1:
                    # pandas frame.py:4560 — an ambiguous sort key is
                    # an error (unlike reductions, which iterate)
                    raise ValueError(f"The column label {b!r} is not unique.")
            by = [self._dup_key(b) for b in by]
        exprs = self._sort_exprs(by, ascending, na_position) + [F.col(I.ORDER_COL)]
        sdf = self._sdf.orderBy(*exprs)
        # New natural order = the sorted order. orderBy range-partitions
        # + sorts; a monotonic id after it encodes the global order with
        # no extra shuffle (ids in partition i < ids in partition i+1).
        sdf = sdf.drop(I.ORDER_COL).withColumn(I.ORDER_COL, F.monotonically_increasing_id())
        out = self._copy(sdf)
        # top-k fusion memo: head()/tail() directly after sort_values
        # reapply the sort on the PRE-materialization plan, so Catalyst
        # compiles orderBy+limit into TakeOrderedAndProject (map-side
        # partial top-k, no full-sort exchange). Any other op goes
        # through _copy and drops the memo.
        out._presort = (self._sdf, by, ascending, na_position)
        return out

    def sort_index(self, ascending: bool = True, level=None,
                   sort_remaining: bool = True) -> "Frame":
        """``generic.py:3361``. ``level`` picks which row-index levels
        lead the sort (int or list of ints); with ``sort_remaining``
        the other levels follow in positional order — pandas
        MultiIndex semantics."""
        if not self._index_names:
            return self._copy(self._sdf.orderBy(F.col(I.ORDER_COL).asc() if ascending else F.col(I.ORDER_COL).desc()))
        n = len(self._index_names)
        if level is None:
            order = list(range(n))
        else:
            lead = [level] if isinstance(level, (int, str)) else list(level)
            lead = [self._level_pos(l) for l in lead]
            order = lead + ([i for i in range(n) if i not in lead]
                            if sort_remaining else [])
        keys = [I.index_col(i) for i in order]
        exprs = [F.col(k).asc_nulls_last() if ascending else F.col(k).desc_nulls_last() for k in keys]
        sdf = self._sdf.orderBy(*exprs).drop(I.ORDER_COL).withColumn(I.ORDER_COL, F.monotonically_increasing_id())
        return self._copy(sdf)

    def _level_pos(self, level) -> int:
        """Resolve a ROW-index level reference — position (negative
        allowed) or level NAME (reference ``multi.py:122``
        _get_level_number) — to its 0-based position. Depth-generic:
        the ``__index_i__`` plumbing supports any level count."""
        n = len(self._index_names)
        if isinstance(level, str):
            if level not in self._index_names:
                raise KeyError(
                    f"level name {level!r} not in index {self._index_names}")
            return self._index_names.index(level)
        level = int(level)
        if not -n <= level < n:
            raise IndexError(f"index level {level} out of range (depth {n})")
        return level if level >= 0 else n + level

    def swaplevel(self, i=0, j=1) -> "Frame":
        """Swap two ROW-index levels (``multi.py:122`` swaplevel) —
        rename the two index columns, swap the names; zero data
        movement. Levels by position or name, any depth."""
        n = len(self._index_names)
        if n < 2:
            raise ValueError("swaplevel needs a 2+-level row index")
        i, j = self._level_pos(i), self._level_pos(j)
        ci, cj = I.index_col(i), I.index_col(j)
        tmp = "__swap_tmp__"
        sdf = (self._sdf.withColumnRenamed(ci, tmp)
               .withColumnRenamed(cj, ci).withColumnRenamed(tmp, cj))
        names = list(self._index_names)
        names[i], names[j] = names[j], names[i]
        return Frame(sdf, names, self._col_labels)

    def droplevel_rows(self, level=0) -> "Frame":
        """Drop one ROW-index level (``generic.py`` droplevel on
        axis=0): remove the column, compact the remaining levels.
        Level by position or name, any depth."""
        n = len(self._index_names)
        level = self._level_pos(level)
        sdf = self._sdf.drop(I.index_col(level))
        for i in range(level + 1, n):
            sdf = sdf.withColumnRenamed(I.index_col(i), I.index_col(i - 1))
        names = [nm for k, nm in enumerate(self._index_names) if k != level]
        return Frame(sdf, names, self._col_labels)

    def unstack(self, level: int = -1) -> "Frame":
        """``reshape.py:446`` unstack of a ROW-index level: the chosen
        level pivots into columns, the remaining levels stay as the
        row index. One pivot aggregation (map-side partial + single
        shuffle on the surviving index); with several data columns the
        result gets MultiIndex columns ``(value, category)``."""
        from .operators.reshape import _relabel_pivoted

        n = len(self._index_names)
        if n < 2:
            raise ValueError("unstack needs a 2+-level row index")
        level = self._level_pos(level)
        piv = I.index_col(level)
        keep = [i for i in range(n) if i != level]
        vals = self.columns
        from .operators.reshape import _first_in_order

        aggs = [_first_in_order(F.col(v)).alias(v) for v in vals]
        out = self._sdf.groupBy(*[I.index_col(i) for i in keep]).pivot(piv).agg(*aggs)
        # compact surviving index levels to dense positions
        for newpos, oldpos in enumerate(keep):
            if I.index_col(oldpos) != I.index_col(newpos):
                out = out.withColumnRenamed(I.index_col(oldpos), I.index_col(newpos))
        idx_cols = [I.index_col(i) for i in range(len(keep))]
        out = out.orderBy(*idx_cols)  # pandas sorts the index on unstack
        names = [nm for k, nm in enumerate(self._index_names) if k != level]
        if len(vals) == 1:
            return Frame(out, names)
        res = _relabel_pivoted(out, idx_cols, vals)
        return Frame(res._sdf, names, res._col_labels)

    def nlargest(self, n: int, columns) -> "Frame":
        """``frame.py:4649`` — Spark compiles orderBy+limit to
        TakeOrderedAndProject (distributed partial top-k, same
        algorithm class as the reference's ``kth_smallest``)."""
        by = [columns] if isinstance(columns, str) else list(columns)
        sdf = self._sdf.orderBy(*[F.col(c).desc_nulls_last() for c in by], F.col(I.ORDER_COL)).limit(n)
        # pandas returns the rows IN sorted order — rebase the order ids
        return self._copy(sdf.drop(I.ORDER_COL).withColumn(I.ORDER_COL, F.monotonically_increasing_id()))

    def nsmallest(self, n: int, columns) -> "Frame":
        by = [columns] if isinstance(columns, str) else list(columns)
        sdf = self._sdf.orderBy(*[F.col(c).asc_nulls_last() for c in by], F.col(I.ORDER_COL)).limit(n)
        return self._copy(sdf.drop(I.ORDER_COL).withColumn(I.ORDER_COL, F.monotonically_increasing_id()))

    def _resolve_subset(self, subset) -> list[str]:
        """LABEL subset → physical columns (every occurrence of a
        duplicated label participates); None → all data columns."""
        if subset is None:
            return self._phys_cols
        labels = [subset] if isinstance(subset, str) else list(subset)
        return [p for lab in labels
                for p in (self._phys_for_label(lab) or [lab])]

    # ---------------- duplicates / distinct ----------------
    def drop_duplicates(self, subset=None, keep: str = "first") -> "Frame":
        """``frame.py:4451``. keep=first/last needs the order contract:
        row_number over (subset, order) — distributed-safe because the
        order column is a total order."""
        subset = self._resolve_subset(subset)
        if keep not in ("first", "last", False):
            raise ValueError(keep)
        if keep is False:
            w = W.partitionBy(*subset)
            sdf = self._sdf.withColumn("__cnt__", F.count("*").over(w)).filter(F.col("__cnt__") == 1).drop("__cnt__")
            return self._copy(sdf)
        order = F.col(I.ORDER_COL).asc() if keep == "first" else F.col(I.ORDER_COL).desc()
        w = W.partitionBy(*subset).orderBy(order)
        sdf = self._sdf.withColumn("__rn__", F.row_number().over(w)).filter(F.col("__rn__") == 1).drop("__rn__")
        return self._copy(sdf)

    def duplicated(self, subset=None, keep: str = "first") -> "Frame":
        subset = self._resolve_subset(subset)
        if keep is False:
            flag = F.count("*").over(W.partitionBy(*subset)) > 1
        else:
            order = F.col(I.ORDER_COL).asc() if keep == "first" else F.col(I.ORDER_COL).desc()
            flag = F.row_number().over(W.partitionBy(*subset).orderBy(order)) > 1
        return self._copy(self._sdf.withColumn("duplicated", flag))

    def nunique(self):
        if self._dup_labels:  # dup labels can't key a dict — Series
            return self._reduce(lambda c: F.countDistinct(F.col(c)),
                                numeric_only=False)
        row = self._sdf.agg(*[F.countDistinct(c).alias(c) for c in self.columns]).first()
        return row.asDict()

    # ---------------- missing data ----------------
    # Elementwise/columnwise transforms iterate PHYSICAL columns
    # (always unique) so duplicate-labeled frames flow through; the
    # repeated labels ride along in the _copy-propagated metadata
    # (reference generic.py applies these positionally).
    def isna(self) -> "Frame":
        out = self._sdf
        for c in self._phys_cols:
            out = out.withColumn(c, F.col(c).isNull())
        return self._copy(out)

    def notna(self) -> "Frame":
        out = self._sdf
        for c in self._phys_cols:
            out = out.withColumn(c, F.col(c).isNotNull())
        return self._copy(out)

    isnull = isna       # generic.py aliases (pandas 0.24 keeps both)
    notnull = notna

    def keys(self):
        return self.columns

    def get(self, key, default=None):
        """``generic.py`` .get — column lookup with a default instead
        of KeyError (mirrors dict.get)."""
        try:
            return self[key]
        except KeyError:
            return default

    def dropna(self, how: str = "any", thresh: int | None = None, subset=None,
               axis: int = 0) -> "Frame":
        if axis in (1, "columns"):
            # drop columns containing nulls (generic.py:6880 axis=1):
            # one agg job over O(cols) counts, then a projection
            n = len(self)
            row = self._sdf.agg(*[F.count(F.col(c)).alias(f"__agg{i}__")
                                  for i, c in enumerate(self._phys_cols)]).first()
            nn = {c: row[f"__agg{i}__"]
                  for i, c in enumerate(self._phys_cols)}
            if thresh is not None:
                keep = [c for c in self._phys_cols if nn[c] >= thresh]
            elif how == "all":
                keep = [c for c in self._phys_cols if nn[c] > 0]
            else:
                keep = [c for c in self._phys_cols if nn[c] == n]
            internal = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
            return self._copy(self._sdf.select(*internal,
                                               *[F.col(c) for c in keep]))
        if subset is not None:
            subset = [subset] if isinstance(subset, str) else list(subset)
            subset = [p for lab in subset
                      for p in (self._phys_for_label(lab) or [lab])]
        else:
            subset = self._phys_cols
        return self._copy(self._sdf.dropna(how=how, thresh=thresh, subset=subset))

    def fillna(self, value=None, method: str | None = None, subset=None, limit: int | None = None) -> "Frame":
        from .operators.missing import fillna

        return fillna(self, value=value, method=method, subset=subset, limit=limit)

    def ffill(self, limit: int | None = None) -> "Frame":
        return self.fillna(method="ffill", limit=limit)

    def bfill(self, limit: int | None = None) -> "Frame":
        return self.fillna(method="bfill", limit=limit)

    def interpolate(self, method: str = "linear", subset=None, on: str | None = None,
                    limit: int | None = None, limit_direction: str | None = None,
                    limit_area: str | None = None) -> "Frame":
        from .operators.missing import interpolate

        return interpolate(self, method=method, subset=subset, on=on, limit=limit,
                           limit_direction=limit_direction, limit_area=limit_area)

    def replace(self, to_replace, value=None, subset=None) -> "Frame":
        from .operators.missing import replace

        return replace(self, to_replace, value, subset=subset)

    # ---------------- index ----------------
    def set_index(self, keys) -> "Frame":
        keys = [keys] if isinstance(keys, str) else list(keys)
        sdf = self._sdf
        # Drop ALL existing __index_*__ columns first: narrowing a wider
        # index (2-level → 1 key) must not leave a stale __index_1__ in
        # the plan (it leaks through unionByName(allowMissingColumns)
        # paths and would be silently repurposed by a later multi-key
        # set_index).
        stale = [c for c in sdf.columns if I.is_index_col(c)]
        if stale:
            sdf = sdf.drop(*stale)
        new_names = list(keys)
        for i, k in enumerate(keys):
            sdf = sdf.withColumn(I.index_col(i), F.col(k))
        sdf = sdf.drop(*keys)
        out = Frame(sdf, new_names, self._col_labels)
        if self._dup_labels:  # dup VALUE labels survive indexing by a
            present = set(I.data_columns(sdf))  # unique key
            kept = {c: lab for c, lab in self._dup_labels.items()
                    if c in present}
            out._dup_labels = kept or None
        return self._derived(out)

    def reset_index(self, drop: bool = False) -> "Frame":
        sdf = self._sdf
        if not drop:
            # put index columns back as leading data columns
            renames = []
            for i, nm in enumerate(self._index_names):
                renames.append((I.index_col(i), nm or f"level_{i}"))
            keep_internal = [c for c in sdf.columns if c == I.ORDER_COL]
            data = [F.col(old).alias(new) for old, new in renames] + [F.col(c) for c in self.columns]
            sdf = sdf.select(*[F.col(c) for c in keep_internal], *data)
        else:
            sdf = sdf.drop(*self.index_spark_cols)
        return Frame(sdf, [], self._col_labels)

    # ---------------- groupby / windows ----------------
    def groupby(self, by=None, level=None, dropna: bool = True,
                as_index: bool = True, sort: bool = True):
        """``frame.py:6570``. ``by`` accepts data columns AND index
        names; ``level=`` selects row-index levels — either way the
        matched index column is exposed as a key column first."""
        from .groupby import GroupBy

        by = [] if by is None else ([by] if isinstance(by, str) else list(by))
        if self._dup_labels:
            for k in by:
                if len(self._phys_for_label(k)) > 1:
                    # pandas groupby.py: a duplicated key label is not
                    # a 1-d grouper
                    raise ValueError(f"Grouper for {k!r} not 1-dimensional")
            # a now-unique key stranded on its __dupN__ physical name:
            # rename back to the label (output key columns carry labels;
            # _copy drops the stale mapping entry automatically)
            ren = {self._dup_key(k): k for k in by if self._dup_key(k) != k}
            if ren:
                sdf = self._sdf
                for p, lab in ren.items():
                    sdf = sdf.withColumnRenamed(p, str(lab))
                self = self._copy(sdf)
        n = len(self._index_names)
        # key name -> index level to materialize (None = data column)
        expose: dict[str, int] = {}
        if level is not None:
            levels = [level] if isinstance(level, (int, str)) else list(level)
            for l in levels:
                if isinstance(l, str):
                    # named level (pandas: level="k")
                    if l not in self._index_names:
                        raise KeyError(f"level name {l!r} not in index {self._index_names}")
                    l = self._index_names.index(l)
                pos = l if l >= 0 else n + l
                if not 0 <= pos < n:
                    raise IndexError(f"level {l} out of range for {n}-level index")
                nm = self._index_names[pos] or f"level_{pos}"
                expose[nm] = pos
                by.append(nm)
        if not by:
            raise TypeError("groupby needs 'by' columns or 'level='")
        data_cols = set(self.columns)
        for k in by:
            if k not in data_cols and k not in expose:
                if k in self._index_names:
                    expose[k] = self._index_names.index(k)
                else:
                    raise KeyError(k)
        f = self
        if expose:
            sdf = self._sdf
            for k, pos in expose.items():
                sdf = sdf.withColumn(k, F.col(I.index_col(pos)))
            f = self._copy(sdf)
        return GroupBy(f, by, dropna=dropna, as_index=as_index, sort=sort)

    def rolling(self, window, min_periods: int | None = None, center: bool = False,
                on: str | None = None, closed: str | None = None, win_type: str | None = None,
                **win_args):
        from .window import Rolling

        return Rolling(self, window, min_periods=min_periods, center=center, on=on,
                       closed=closed, win_type=win_type, partition_by=[], **win_args)

    def expanding(self, min_periods: int = 1):
        from .window import Expanding

        return Expanding(self, min_periods=min_periods, partition_by=[])

    def ewm(self, com=None, span=None, halflife=None, alpha=None,
            min_periods: int = 0, adjust: bool = True, ignore_na: bool = False):
        from .window import EWM

        return EWM(self, com=com, span=span, halflife=halflife, alpha=alpha,
                   min_periods=min_periods, adjust=adjust, ignore_na=ignore_na,
                   partition_by=[])

    def resample(self, freq: str, on: str):
        from .streaming.resample import Resampler

        return Resampler(self, freq=freq, on=on)

    def asfreq(self, freq: str, on: str, method: str | None = None):
        """``generic.py:7544`` — re-grid to a regular frequency: value
        at each exact spine instant, optional spine-level fill."""
        return self.resample(freq, on=on).asfreq(method=method)

    # ---------------- joins / combine ----------------
    def _with_index_as_columns(self) -> "Frame":
        """Expose row-index levels as data columns (named by their
        labels) — the bridge for key arguments that name index levels."""
        sdf = self._sdf
        for i, nm in enumerate(self._index_names):
            sdf = sdf.withColumn(nm or f"level_{i}", F.col(I.index_col(i)))
        return self._copy(sdf)

    def merge(self, right: "Frame", how: str = "inner", on=None, left_on=None, right_on=None,
              left_index: bool = False, right_index: bool = False,
              suffixes=("_x", "_y"), indicator: bool = False, validate: str | None = None) -> "Frame":
        from .operators.joins import merge

        left = self
        if left_index:
            if not self._index_names:
                raise ValueError("left_index=True requires an index")
            left = self._with_index_as_columns()
            left_on = [nm or f"level_{i}" for i, nm in enumerate(self._index_names)]
        if right_index:
            if not right._index_names:
                raise ValueError("right_index=True requires an index")
            right = right._with_index_as_columns()
            right_on = [nm or f"level_{i}" for i, nm in enumerate(right._index_names)]
        if left_index and right_index and list(left_on) == list(right_on):
            on, left_on, right_on = left_on, None, None
        return merge(left, right, how=how, on=on, left_on=left_on, right_on=right_on,
                     suffixes=suffixes, indicator=indicator, validate=validate)

    def join(self, other: "Frame", how: str = "left", lsuffix: str = "", rsuffix: str = "") -> "Frame":
        from .operators.joins import join_on_index

        return join_on_index(self, other, how=how, lsuffix=lsuffix, rsuffix=rsuffix)

    def combine(self, other: "Frame", func, fill_value=None) -> "Frame":
        """``frame.py:4970`` — align on index, func per column pair."""
        from .operators.joins import combine

        return combine(self, other, func, fill_value=fill_value)

    def combine_first(self, other: "Frame") -> "Frame":
        from .operators.joins import combine_first

        return combine_first(self, other)

    def append(self, other: "Frame") -> "Frame":
        from .operators.joins import concat

        return concat([self, other])

    # ---------------- reshape ----------------
    def melt(self, id_vars=None, value_vars=None, var_name: str = "variable", value_name: str = "value") -> "Frame":
        from .operators.reshape import melt

        return melt(self, id_vars, value_vars, var_name, value_name)

    def pivot(self, index: str, columns: str, values: str) -> "Frame":
        from .operators.reshape import pivot

        return pivot(self, index, columns, values)

    def pivot_table(self, values=None, index=None, columns=None, aggfunc="mean",
                    fill_value=None, margins: bool = False,
                    dropna: bool = True) -> "Frame":
        from .operators.reshape import pivot_table

        return pivot_table(self, values, index, columns, aggfunc, fill_value,
                           margins, dropna=dropna)

    def transpose_small(self, limit: int = 1000):
        """Driver-side transpose for small frames (``frame.py`` ``T``);
        refuses beyond ``limit`` rows — transpose is not a scalable op."""
        n = self._sdf.count()
        if n > limit:
            raise ValueError(f"transpose_small: {n} rows > limit {limit}")
        return self.to_pandas().T

    # ---------------- order-dependent frame ops ----------------
    def shift(self, periods: int = 1, fill_value=None) -> "Frame":
        """Block-partitioned (operators/distwindow.py): borrow
        |periods| boundary rows per block — >1 task at any scale.
        ``fill_value`` fills ONLY beyond-edge positions (pandas 0.24
        generic.py shift contract), via the kernel's edge probe."""
        from .operators.distwindow import (consume_chained,
                                           mark_blocked_output, shift_blocked)

        if periods == 0:
            return self
        out = shift_blocked(consume_chained(self), F.col(I.ORDER_COL),
                            periods, self._phys_cols, fill_value=fill_value,
                            monotonic_id=True)
        return mark_blocked_output(self._copy(out))

    def diff(self, periods: int = 1) -> "Frame":
        from .operators.distwindow import (consume_chained,
                                           mark_blocked_output,
                                           rolling_blocked)

        if periods == 0:
            return self._copy(self._sdf)
        cols = self._phys_cols

        def build(_w, ordered):
            fn = ((lambda c: F.lag(c, periods)) if periods > 0
                  else (lambda c: F.lead(c, -periods)))
            return [(c, F.col(c) - fn(F.col(c)).over(ordered)) for c in cols]

        lo, hi = (-periods, 0) if periods > 0 else (0, -periods)
        out = rolling_blocked(consume_chained(self), F.col(I.ORDER_COL),
                              lo, hi, build, monotonic_id=True)
        return mark_blocked_output(self._copy(out))

    def rank(self, method: str = "average", ascending: bool = True, pct: bool = False, na_option: str = "keep") -> "Frame":
        """Per-column rank — block-partitioned by VALUE with prefix
        offsets (operators/distwindow.py): each column pays one range
        exchange instead of one single-task global sort."""
        from .operators.distwindow import (consume_chained,
                                           mark_blocked_output, rank_blocked)

        from pyspark import StorageLevel

        base = consume_chained(self)
        try:
            base_pinned = base.storageLevel != StorageLevel.NONE
        except Exception:  # noqa: BLE001 — connect-mode or API drift
            base_pinned = False
        out = base
        interim = []
        # keep LRU pin eviction off while this loop's pins are live
        _guard = I.blocked_guard()  # noqa: F841 — liveness by scope
        for i, c in enumerate(self._phys_cols):
            if i:
                # pin between per-column passes: rank_blocked runs two
                # eager driver collects whose plans would otherwise
                # re-execute every previously chained column's rank
                # machinery — O(K²) build work for a K-column rank
                # (r10, ADVICE r9). Same mechanism consume_chained
                # applies at API-call boundaries.
                out = I.pin_order(out)
                interim.append(out)
            out = rank_blocked(out, c, method=method, ascending=ascending,
                               pct=pct, na_option=na_option)
        # every build collect is done — release the interim pins, but
        # ONLY when the base itself is pinned (r11, ADVICE r10): rank
        # blocks are VALUE-keyed and the offsets are broadcast-table
        # data, so the caller's main action replays the K window
        # passes from the base in one job — bit-deterministic when
        # that base is materialized. From an UNPINNED lazy scan the
        # replay could reassign order ids (the AQE race), shifting
        # method='first' tiebreaks between the build and main jobs;
        # there the interim pins stay live until the clear_cache()
        # barrier, honoring its never-mid-plan contract.
        if base_pinned:
            for df in interim:
                try:
                    key = df.semanticHash()
                    if key in I._PINNED:
                        I._PINNED.pop(key).unpersist()
                except Exception:  # noqa: BLE001
                    pass
        return mark_blocked_output(self._copy(out))

    def _cum_frame(self, kind: str) -> "Frame":
        """DataFrame.cum* (generic.py:9329) over the frame order —
        running aggregates with block carry, numeric columns only."""
        from .functions.dtypes import is_numeric
        from .operators.distwindow import (consume_chained, expanding_blocked,
                                           mark_blocked_output)

        cols = [c for c, dt in self.dtypes.items() if is_numeric(dt)]
        if not cols:
            return self._copy(self._sdf)
        # pandas cum* (unlike expanding) masks null positions while
        # accumulation continues past them — materialize the ORIGINAL
        # null pattern before the transform replaces the columns
        sdf = consume_chained(self)
        for c in cols:
            sdf = sdf.withColumn(f"__wasnull_{c}", F.col(c).isNull())
        sdf = expanding_blocked(sdf, F.col(I.ORDER_COL),
                                {c: (c, kind) for c in cols})
        for c in cols:
            sdf = (sdf.withColumn(c, F.when(F.col(f"__wasnull_{c}"), F.lit(None))
                                  .otherwise(F.col(c)))
                   .drop(f"__wasnull_{c}"))
        return mark_blocked_output(self._copy(sdf))

    def cumsum(self) -> "Frame":
        return self._cum_frame("sum")

    def cummax(self) -> "Frame":
        return self._cum_frame("max")

    def cummin(self) -> "Frame":
        return self._cum_frame("min")

    def cumprod(self) -> "Frame":
        return self._cum_frame("prod")

    def cumagg(self, specs: dict) -> "Frame":
        """Multiple running aggregates in ONE blocked pass (engine
        extension; pandas needs ``df.cumsum()`` + ``df.cummax()`` +
        a join). ``specs``: ``{out_name: (in_col, kind)}`` with kind in
        sum/count/min/max/mean/var/std/prod. One split-points job, one
        exchange, zero joins — the scale path for multi-cum queries."""
        from .operators.distwindow import (consume_chained, expanding_blocked,
                                           mark_blocked_output)

        sdf = consume_chained(self)
        mask_kinds = {"sum", "min", "max", "prod"}
        masked = [(out, c) for out, (c, kind) in specs.items() if kind in mask_kinds]
        if masked:  # batched projections: one py4j call each (r13)
            sdf = sdf.withColumns({f"__wasnull_{c}": F.col(c).isNull()
                                   for c in sorted({c for _, c in masked})})
        sdf = expanding_blocked(sdf, F.col(I.ORDER_COL), dict(specs))
        if masked:
            sdf = sdf.withColumns({
                out: F.when(F.col(f"__wasnull_{c}"), F.lit(None))
                      .otherwise(F.col(out)) for out, c in masked})
        drop = {f"__wasnull_{c}" for _, c in masked}
        return mark_blocked_output(self._copy(sdf.drop(*drop)))

    # ---------------- reductions ----------------
    def _reduce(self, agg_factory: Callable[[str], Column], numeric_only: bool = True):
        from .functions.dtypes import is_numeric

        cols = [c for c, dt in self.dtypes.items() if (not numeric_only) or is_numeric(dt)]
        row = self._sdf.agg(*[agg_factory(c).alias(f"__agg{i}__")
                              for i, c in enumerate(cols)]).first()
        import pandas as pd

        # duplicate labels: each physical occurrence aggregates
        # separately and the result Series carries the label once per
        # occurrence (reference generic.py:9576 _add_numeric_operations
        # iterates columns positionally) — positional alias + label
        # translation instead of asDict(), which would collapse dups
        dup = self._dup_labels or {}
        return pd.Series([row[f"__agg{i}__"] for i in range(len(cols))],
                         index=[dup.get(c, c) for c in cols])

    # -- frame-level flex arithmetic (``ops.py`` _arith_method_FRAME) --
    def _flex_op(self, other, fn, fill_value=None, typed: bool = False) -> "Frame":
        """``df.add(other)`` family: scalar → per-numeric-column op;
        Frame → positional alignment (engine order model; pandas aligns
        labels) via one order-join, shared columns combined, non-shared
        columns null — ``fill_value`` patches one-sided NULLs first.
        ``typed=True``: ``fn(a, b, lt, rt)`` also receives the two
        sides' simpleString dtypes (rt None for a scalar other) so
        zero-division rules can pick the int vs float form per column."""
        from .functions.dtypes import is_numeric

        dtypes = self.dtypes  # physical names — dup labels flow through
        if not isinstance(other, Frame):
            sdf = self._sdf
            for c in dtypes:
                if is_numeric(dtypes[c]):
                    a = F.col(c)
                    if fill_value is not None:
                        # pandas fills the frame's own NaNs before the
                        # scalar op (ops.py fill_binop: left-side fill).
                        a = F.coalesce(a, F.lit(fill_value))
                    out = (fn(a, F.lit(other), dtypes[c], None) if typed
                           else fn(a, F.lit(other)))
                    sdf = sdf.withColumn(c, out)
            return self._copy(sdf)
        from .operators.joins import concat

        if self._dup_labels or other._dup_labels:
            # pandas ops.py on duplicate labels: identical label
            # sequences align POSITIONALLY; a dup side against a
            # dup-FREE side broadcasts the unique column onto every
            # occurrence; two differently-duplicated sides cannot
            # reindex a duplicate axis.
            ldup, rdup = self._dup_labels or {}, other._dup_labels or {}
            lpairs = [(p, ldup.get(p, p)) for p in self._phys_cols]
            rpairs = [(p, rdup.get(p, p)) for p in other._phys_cols]
            lseen = {lab for _, lab in lpairs}
            rby: dict[str, list[str]] = {}
            for rp, lab in rpairs:
                rby.setdefault(lab, []).append(rp)
            if self.columns == other.columns:
                plan = [(lab, lp, rp) for (lp, lab), (rp, _)
                        in zip(lpairs, rpairs)]
            elif not rdup:
                # dup LEFT drives multiplicity; unique right broadcasts
                plan = [(lab, lp, (rby.get(lab) or [None])[0])
                        for lp, lab in lpairs]
                plan += [(lab, None, rp) for rp, lab in rpairs
                         if lab not in lseen]
            elif not ldup:
                # dup RIGHT drives multiplicity; unique left broadcasts
                plan = []
                for lp, lab in lpairs:
                    if lab in rby:
                        plan += [(lab, lp, rp) for rp in rby[lab]]
                    else:
                        plan.append((lab, lp, None))
                plan += [(lab, None, rp) for rp, lab in rpairs
                         if lab not in lseen]
            else:
                raise ValueError("cannot reindex from a duplicate axis")
            n = len(self._phys_cols)
            m = len(other._phys_cols)
            lf = self.set_axis([f"__l{i}__" for i in range(n)], axis=1)
            rf = other.set_axis([f"__r{i}__" for i in range(m)], axis=1)
            lmap = dict(zip(self._phys_cols, [f"__l{i}__" for i in range(n)]))
            rmap = dict(zip(other._phys_cols, [f"__r{i}__" for i in range(m)]))
            both = concat([lf, rf], axis=1)
            sdf = both._sdf
            ldt, rdt = self.dtypes, other.dtypes
            picks = []
            for lab, lp, rp in plan:
                if lp is None or rp is None:
                    picks.append((F.lit(None).cast("double"), lab))
                    continue
                a, b = F.col(lmap[lp]), F.col(rmap[rp])
                both_null = a.isNull() & b.isNull()
                if fill_value is not None:
                    a = F.coalesce(a, F.lit(fill_value))
                    b = F.coalesce(b, F.lit(fill_value))
                out = fn(a, b, ldt[lp], rdt[rp]) if typed else fn(a, b)
                picks.append((F.when(both_null | a.isNull() | b.isNull(),
                                     F.lit(None)).otherwise(out), lab))
            keep = [F.col(c) for c in sdf.columns if I.is_internal(c)]
            sel, dmap = _dup_aliases(picks)
            res = Frame(sdf.select(*keep, *sel), self._index_names,
                        dup_labels=dmap)
            return self._derived(other._derived(res))

        shared = [c for c in self.columns if c in other.columns]
        right_only = [c for c in other.columns if c not in shared]
        rtypes = other.dtypes
        r = other.rename({c: f"__r_{c}" for c in other.columns})
        both = concat([self, r], axis=1)
        sdf = both._sdf
        for c in shared:
            a, b = F.col(c), F.col(f"__r_{c}")
            # pandas fill_binop: fill one-sided NULLs only — a cell
            # missing on BOTH sides stays NaN even with fill_value.
            both_null = a.isNull() & b.isNull()
            if fill_value is not None:
                a = F.coalesce(a, F.lit(fill_value))
                b = F.coalesce(b, F.lit(fill_value))
            out = fn(a, b, dtypes[c], rtypes[c]) if typed else fn(a, b)
            sdf = sdf.withColumn(c, F.when(both_null | a.isNull() | b.isNull(),
                                           F.lit(None))
                                 .otherwise(out))
        for c in self.columns:
            if c not in shared:
                sdf = sdf.withColumn(c, F.lit(None).cast("double"))
        for c in right_only:
            sdf = sdf.withColumn(c, F.lit(None).cast("double"))
        sdf = sdf.drop(*[f"__r_{c}" for c in other.columns])
        internal = [c for c in sdf.columns if I.is_internal(c)]
        res = Frame(sdf.select(*[F.col(c) for c in internal],
                               *[F.col(c) for c in self.columns + right_only]),
                    self._index_names)
        return self._derived(other._derived(res))

    def add(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: a + b, fill_value)

    # -- reversed flex arithmetic (``ops.py`` r-variants) --------------
    def radd(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: b + a, fill_value)

    def rsub(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: b - a, fill_value)

    def rmul(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: b * a, fill_value)

    def rdiv(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: I.true_div_col(b, a), fill_value)

    rtruediv = rdiv

    def rfloordiv(self, other, fill_value=None) -> "Frame":
        return self._flex_op(
            other, _typed_floordiv(other, rev=True, filled=fill_value is not None),
            fill_value, typed=True)

    def rmod(self, other, fill_value=None) -> "Frame":
        return self._flex_op(
            other, _typed_mod(other, rev=True, filled=fill_value is not None),
            fill_value, typed=True)

    def rpow(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: F.pow(b, a), fill_value)

    # -- flex comparisons (``ops.py`` _comp_method_FRAME): boolean frame
    def _flex_cmp(self, other, fn, neq: bool = False) -> "Frame":
        """Elementwise comparison → all-boolean frame. pandas rules:
        type-incompatible or missing comparisons are False (True for
        ne); null operands compare False/True likewise."""
        from .functions.dtypes import is_numeric

        miss = F.lit(bool(neq))
        import numpy as np

        if isinstance(other, np.generic):
            other = other.item()  # np.int64/np.float64/np.bool_ → Python

        def compat(dt, v) -> bool:
            if isinstance(v, bool):
                return dt == "boolean"
            if isinstance(v, (int, float)):
                return is_numeric(dt)
            if isinstance(v, str):
                return dt == "string"
            return False

        if not isinstance(other, Frame):
            sdf = self._sdf
            for c in self.columns:
                e = (F.coalesce(fn(F.col(c), F.lit(other)), miss)
                     if compat(self.dtypes[c], other) else miss)
                sdf = sdf.withColumn(c, e)
            return self._copy(sdf)
        from .operators.joins import concat

        shared = set(self.columns) & set(other.columns)
        r = other.rename({c: f"__r_{c}" for c in other.columns})
        both = concat([self, r], axis=1)
        sdf = both._sdf
        out_cols = list(dict.fromkeys(self.columns + other.columns))
        for c in out_cols:
            e = (F.coalesce(fn(F.col(c), F.col(f"__r_{c}")), miss)
                 if c in shared else miss)
            sdf = sdf.withColumn(f"__o_{c}", e)
        sdf = sdf.drop(*[f"__r_{c}" for c in other.columns], *out_cols)
        sdf = sdf.withColumnsRenamed({f"__o_{c}": c for c in out_cols})
        internal = [c for c in sdf.columns if I.is_internal(c)]
        return Frame(sdf.select(*internal, *out_cols), self._index_names)

    def eq(self, other) -> "Frame":
        return self._flex_cmp(other, lambda a, b: a == b)

    def ne(self, other) -> "Frame":
        return self._flex_cmp(other, lambda a, b: a != b, neq=True)

    def lt(self, other) -> "Frame":
        return self._flex_cmp(other, lambda a, b: a < b)

    def le(self, other) -> "Frame":
        return self._flex_cmp(other, lambda a, b: a <= b)

    def gt(self, other) -> "Frame":
        return self._flex_cmp(other, lambda a, b: a > b)

    def ge(self, other) -> "Frame":
        return self._flex_cmp(other, lambda a, b: a >= b)

    def sub(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: a - b, fill_value)

    def mul(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: a * b, fill_value)

    def div(self, other, fill_value=None) -> "Frame":
        # pandas zero-division semantics (±inf/NaN), not Spark's NULL
        return self._flex_op(other, I.true_div_col, fill_value)

    truediv = div
    divide = div
    subtract = sub
    multiply = mul

    def floordiv(self, other, fill_value=None) -> "Frame":
        return self._flex_op(
            other, _typed_floordiv(other, rev=False, filled=fill_value is not None),
            fill_value, typed=True)

    def mod(self, other, fill_value=None) -> "Frame":
        return self._flex_op(
            other, _typed_mod(other, rev=False, filled=fill_value is not None),
            fill_value, typed=True)

    def pow(self, other, fill_value=None) -> "Frame":
        return self._flex_op(other, lambda a, b: F.pow(a, b), fill_value)

    def _row_reduce(self, kind: str):
        """axis=1 reductions (``frame.py:7090`` axis='columns'): one
        array expression over the numeric columns per row — no job, no
        shuffle; NULLs skipped (pandas skipna)."""
        from .functions.dtypes import is_numeric
        from .series import Series

        arr = F.array(*[F.col(c).cast("double")
                        for c, dt in self.dtypes.items() if is_numeric(dt)])
        vals = F.filter(arr, lambda x: x.isNotNull())
        empty = F.size(vals) == 0
        if kind == "min":
            e = F.array_min(vals)
        elif kind == "max":
            e = F.array_max(vals)
        else:
            total = F.aggregate(vals, F.lit(0.0), lambda a, x: a + x)
            e = total if kind == "sum" else total / F.size(vals)
        if kind == "sum":
            e = F.when(empty, F.lit(0.0)).otherwise(e)
        else:
            e = F.when(empty, F.lit(None)).otherwise(e)
        return Series(self, e, None)

    def sum(self, axis: int = 0, numeric_only: bool = True):
        if axis in (1, "columns"):
            return self._row_reduce("sum")
        # pandas min_count=0: all-null columns sum to 0, not None
        return self._reduce(lambda c: F.coalesce(F.sum(c), F.lit(0)),
                            numeric_only=numeric_only)

    def mean(self, axis: int = 0, numeric_only: bool = True):
        if axis in (1, "columns"):
            return self._row_reduce("mean")
        return self._reduce(lambda c: F.avg(c), numeric_only=numeric_only)

    def min(self, axis: int = 0, numeric_only: bool = False):
        if axis in (1, "columns"):
            return self._row_reduce("min")
        return self._reduce(lambda c: F.min(c), numeric_only=numeric_only)

    def max(self, axis: int = 0, numeric_only: bool = False):
        if axis in (1, "columns"):
            return self._row_reduce("max")
        return self._reduce(lambda c: F.max(c), numeric_only=numeric_only)

    def std(self, ddof: int = 1):
        from .operators.aggregates import var_ddof_col

        return self._reduce(lambda c: var_ddof_col(c, ddof, std=True))

    def var(self, ddof: int = 1):
        from .operators.aggregates import var_ddof_col

        return self._reduce(lambda c: var_ddof_col(c, ddof))

    def median(self):
        return self._reduce(lambda c: F.percentile(c, F.lit(0.5)))

    def quantile(self, q: float = 0.5):
        return self._reduce(lambda c: F.percentile(c, F.lit(q)))

    def skew(self):
        from .operators.aggregates import pandas_skew_col

        return self._reduce(lambda c: pandas_skew_col(F.col(c)))

    def kurt(self):
        from .operators.aggregates import pandas_kurt_col

        return self._reduce(lambda c: pandas_kurt_col(F.col(c)))

    def sem(self, ddof: int = 1):
        from .operators.aggregates import sem_col

        return self._reduce(lambda c: sem_col(F.col(c), ddof))

    def prod(self):
        # product via Σln|x| + sign/zero bookkeeping (no product agg in SQL)
        def p(c):
            col = F.col(c)
            # coalesce: empty/all-null frames give null sums, which a
            # bare `negs % 2 == 0` would turn into sign = -1
            negs = F.coalesce(F.sum(F.when(col < 0, 1).otherwise(0)), F.lit(0))
            zeros = F.coalesce(F.sum(F.when(col == 0, 1).otherwise(0)), F.lit(0))
            lg = F.sum(F.log(F.abs(F.nullif(col, F.lit(0)))))
            sign = F.when(negs % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
            return F.when(zeros > 0, F.lit(0.0)).otherwise(sign * F.exp(F.coalesce(lg, F.lit(0.0))))

        return self._reduce(p)

    product = prod
    kurtosis = kurt

    def mad(self):
        """Mean absolute deviation — two jobs (mean, then the
        deviation mean), the minimum for a two-phase statistic."""
        from .functions.dtypes import is_numeric

        cols = [c for c, dt in self.dtypes.items() if is_numeric(dt)]
        means = self._sdf.agg(*[F.avg(c).alias(f"__agg{i}__")
                                for i, c in enumerate(cols)]).first()
        row = self._sdf.agg(*[
            F.avg(F.abs(F.col(c) - F.lit(means[f"__agg{i}__"])))
            .alias(f"__agg{i}__") for i, c in enumerate(cols)]).first()
        import pandas as pd

        dup = self._dup_labels or {}
        return pd.Series([row[f"__agg{i}__"] for i in range(len(cols))],
                         index=[dup.get(c, c) for c in cols])

    def corr(self, method: str = "pearson"):
        from .operators.aggregates import corr_matrix

        return corr_matrix(self, method=method)

    def cov(self):
        from .operators.aggregates import cov_matrix

        return cov_matrix(self)

    def describe(self) -> "Frame":
        from .operators.aggregates import describe

        return describe(self)

    def agg(self, func, axis: int = 0):
        """``frame.py:6073`` DataFrame.aggregate — str / list[str] /
        {col: func(s)} specs collapse to ONE Spark job (every
        (col, func) pair is an expression in a single agg); callables
        delegate to ``apply(axis=0)``. Output is driver-side pandas
        (one row per func — aggregation output is O(cols))."""
        if axis in (1, "columns"):
            raise NotImplementedError("agg(axis=1): use apply(axis=1)")
        if callable(func):
            return self.apply(func, axis=0)
        import pandas as pd

        from .functions.dtypes import is_numeric
        from .operators.aggregates import resolve_agg_total

        dtypes = self.dtypes
        if isinstance(func, str):
            func = [func]
            squeeze = True
        else:
            squeeze = False
        dup = self._dup_labels or {}
        if isinstance(func, dict):
            # a duplicated label in the spec applies to EVERY physical
            # occurrence (pandas iterates occurrences positionally)
            spec = {}
            for c, f in func.items():
                fns = [f] if isinstance(f, str) else list(f)
                for p in (self._phys_for_label(c) or [c]):
                    spec[p] = fns
            all_scalar = all(not isinstance(f, (list, tuple))
                             for f in func.values())
        else:
            funcs = list(func)
            # count/min/max/etc. apply to every column (pandas agg
            # keeps non-numeric columns for order-safe kernels)
            safe = {"count", "min", "max", "first", "last", "nunique"}
            numeric_only = not set(funcs) <= safe
            cols = [c for c, dt in dtypes.items()
                    if (not numeric_only) or is_numeric(dt)]
            spec = {c: funcs for c in cols}
            all_scalar = False
        exprs, keys = [], []
        for c, fns in spec.items():
            for fname in fns:
                exprs.append(resolve_agg_total(fname, F.col(c))
                             .alias(f"{c}\x1f{fname}"))
                keys.append((c, fname))
        row = self._sdf.agg(*exprs).first()
        vals = {(c, f): row[f"{c}\x1f{f}"] for (c, f) in keys}
        labels = [dup.get(c, c) for c in spec]  # dup-translated, in order
        if squeeze:  # single func -> Series indexed by column
            fname = next(iter(spec.values()))[0]
            return pd.Series([vals[(c, fname)] for c in spec], index=labels)
        if isinstance(func, dict) and all_scalar:
            return pd.Series([vals[(c, fns[0])] for c, fns in spec.items()],
                             index=labels)
        fnames = sorted({f for fns in spec.values() for f in fns},
                        key=lambda f: min(i for i, (c, g) in enumerate(keys) if g == f))
        return pd.DataFrame(
            [[vals.get((c, f)) for c in spec] for f in fnames],
            index=fnames, columns=labels)

    aggregate = agg

    # ---------------- time-indexed filters ----------------
    def _time_col(self, on: str | None) -> Column:
        """Resolve the time column for at_time/between_time: explicit
        ``on=`` or — the pandas form — the frame's single index level."""
        if on is not None:
            return F.col(on)
        if len(self._index_names) != 1:
            raise TypeError("at_time/between_time need on= or a single "
                            "(datetime) index level")
        return F.col(I.index_col(0))

    @staticmethod
    def _norm_time(t: str) -> str:
        """'3:00' / '03:00' / '03:00:00' → 'HH:mm:ss' (pandas accepts
        all three; a raw string compare against HH:mm:ss would not)."""
        parts = t.split(":")
        while len(parts) < 3:
            parts.append("00")
        return ":".join(p.zfill(2) for p in parts)

    def at_time(self, time_str: str, on: str | None = None) -> "Frame":
        """Rows at an exact time of day (``generic.py:7389``)."""
        return self._copy(self._sdf.filter(
            F.date_format(self._time_col(on), "HH:mm:ss")
            == self._norm_time(time_str)))

    def between_time(self, start: str, end: str, on: str | None = None) -> "Frame":
        """Rows with time-of-day in [start, end] (``generic.py:7446``)."""
        t = F.date_format(self._time_col(on), "HH:mm:ss")
        start, end = self._norm_time(start), self._norm_time(end)
        if start <= end:
            return self._copy(self._sdf.filter((t >= start) & (t <= end)))
        return self._copy(self._sdf.filter((t >= start) | (t <= end)))  # wraps midnight

    def first_offset(self, offset: str, on: str) -> "Frame":
        """First ``offset`` of data by time (``generic.py:7818``:
        ``first('3D')``) — one min-aggregate + filter."""
        from .window import offset_to_us

        us = offset_to_us(offset if offset[0].isdigit() else "1" + offset)
        lo = self._sdf.agg(F.min(F.unix_micros(F.col(on).cast("timestamp"))).alias("lo"))
        return self._copy(self._sdf.join(F.broadcast(lo))
                          .filter(F.unix_micros(F.col(on).cast("timestamp")) < F.col("lo") + us)
                          .drop("lo"))

    def last_offset(self, offset: str, on: str) -> "Frame":
        from .window import offset_to_us

        us = offset_to_us(offset if offset[0].isdigit() else "1" + offset)
        hi = self._sdf.agg(F.max(F.unix_micros(F.col(on).cast("timestamp"))).alias("hi"))
        return self._copy(self._sdf.join(F.broadcast(hi))
                          .filter(F.unix_micros(F.col(on).cast("timestamp")) > F.col("hi") - us)
                          .drop("hi"))

    def truncate(self, before=None, after=None) -> "Frame":
        """``generic.py:3168`` — keep index values in [before, after]
        (index frames) or positions (positional frames)."""
        col = F.col(I.index_col(0)) if self._index_names else F.col(I.ORDER_COL)
        sdf = self._sdf
        if before is not None:
            sdf = sdf.filter(col >= F.lit(before))
        if after is not None:
            sdf = sdf.filter(col <= F.lit(after))
        return self._copy(sdf)

    def loc_select(self, labels) -> "Frame":
        """``.loc`` label lookup (``indexing.py:1537``): filter on the
        index column; large label sets become a broadcast semi-join."""
        if not self._index_names:
            raise ValueError("loc_select needs an index — call set_index first")
        col = F.col(I.index_col(0))
        labels = [labels] if not isinstance(labels, (list, tuple)) else list(labels)
        if len(labels) > 1000:
            spark = self._sdf.sparkSession
            keys = spark.createDataFrame(
                [(v.item() if hasattr(v, "item") else v,) for v in labels],
                ["__k__"])
            return self._copy(self._sdf.join(F.broadcast(keys), col == F.col("__k__"), "left_semi"))
        return self._copy(self._sdf.filter(col.isin(labels)))

    def xs(self, key, level=0) -> "Frame":
        """Cross-section (``generic.py:3260``): filter one index level
        and drop it. Level by position or name, any depth."""
        level = self._level_pos(level)
        col = I.index_col(level)
        sdf = self._sdf.filter(F.col(col) == F.lit(key))
        remaining = [n for i, n in enumerate(self._index_names) if i != level]
        keep = [c for c in sdf.columns if c != col]
        sdf = sdf.select(*keep)
        for i, _ in enumerate(remaining):
            src = I.index_col(i if i < level else i + 1)
            if src != I.index_col(i):
                sdf = sdf.withColumnRenamed(src, I.index_col(i))
        return Frame(sdf, remaining)

    # ---------------- UDF surfaces ----------------
    def apply(self, func: Callable, axis: int = 1, return_type: str = "double",
              columns: list[str] | None = None):
        """Row-wise UDF (``frame.py:6156`` with axis=1; the
        ``enhancingperf.rst:81`` slow path, 174 ms per 1k rows in the
        reference). ``func`` receives each row as a pandas Series —
        identical call contract — but batches cross the JVM boundary
        via Arrow and fan out over every core/executor, so throughput
        scales with the cluster instead of the cythonization ladder.
        Returns a Series; axis=0 applies per COLUMN (reference
        ``core/apply.py:356`` FrameColumnApply)."""
        if axis == 0:
            return self._apply_axis0(func)
        if axis != 1:
            raise ValueError(f"axis must be 0 or 1, got {axis}")
        import pandas

        from pyspark.sql.functions import pandas_udf

        cols = list(columns or self.columns)

        # hint says Series (what the eval-type inferencer accepts); a
        # struct input actually arrives as a pd.DataFrame batch. The
        # annotation must resolve from this function's globals, hence
        # the real type object rather than a string.
        def _u(pdf):
            return pdf.apply(func, axis=1)

        _u.__annotations__ = {"pdf": pandas.Series, "return": pandas.Series}
        _u = pandas_udf(return_type)(_u)

        return Series(self, _u(F.struct(*[F.col(c).alias(c) for c in cols])), name="apply")

    def _apply_axis0(self, func):
        """``df.apply(func, axis=0)`` (reference ``core/apply.py:356``
        FrameColumnApply): per-column reduction, returns a pandas
        Series indexed by column name.

        Resolution (the ``core/base.py:184`` agg-table analog):
        callables that *delegate to the pandas method* under numpy's
        dispatch (``np.sum(series)`` calls ``series.sum()`` etc.) map
        to the same JVM aggregate — ONE codegen'd aggregation job for
        every column. ``np.std``/``np.var`` delegate with ``ddof=0``
        (numpy's default), so they map to the population variants —
        exactly what the reference computes. Anything else runs as an
        Arrow-batched grouped-agg pandas UDF per numeric column (real
        pandas Series in, scalar out) — still one job, no collect();
        like pandas itself, the whole column must fit one task."""
        import numpy as np

        from .operators.aggregates import AGG_TABLE

        # np.median does NOT method-dispatch (numpy.lib, not
        # fromnumeric) so it stays on the exact pandas-UDF path
        name = func if isinstance(func, str) else {
            np.sum: "sum", np.mean: "mean", np.min: "min", np.max: "max",
            np.prod: "prod",
        }.get(func)
        special = {np.std: lambda c: F.stddev_pop(c),
                   np.var: lambda c: F.var_pop(c),
                   len: lambda c: F.count(F.lit(1))}.get(
            None if isinstance(func, str) else func)
        if special is not None:
            return self._reduce(special, numeric_only=func is not len)
        if name is not None:
            agg = AGG_TABLE.get(name)
            if agg is None:
                raise NotImplementedError(f"apply(axis=0) aggregate {name!r}")
            return self._reduce(lambda c: agg(F.col(c)),
                                numeric_only=name not in ("min", "max", "count", "size"))
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _u(s):
            return float(func(s))

        # Series -> scalar hint = grouped-agg UDF; real type objects
        # (module uses `from __future__ import annotations`)
        _u.__annotations__ = {"s": pd.Series, "return": float}
        u = pandas_udf(_u, "double")
        from .functions.dtypes import is_numeric

        cols = [c for c, dt in self.dtypes.items() if is_numeric(dt)]
        row = self._sdf.agg(*[u(F.col(c)).alias(c) for c in cols]).first()
        return pd.Series(row.asDict())

    def applymap(self, func: Callable, return_type: str = "double") -> "Frame":
        """Elementwise UDF over every column (``frame.py:6335``) —
        Arrow-batched pandas UDF per column (the slow path)."""
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(return_type)
        def _u(s):
            return s.map(func)

        out = self._sdf
        for c in self.columns:
            out = out.withColumn(c, _u(F.col(c)))
        return self._copy(out)

    def dot(self, other) -> "Frame":
        """Matrix product with a small driver-held matrix
        (``frame.py:980``): each output column is a linear-combination
        expression over the input columns — whole-stage codegen, zero
        shuffle, one scan. ``other`` is a pandas DataFrame indexed by
        this frame's (numeric) column names; big-×-big products are out
        of scope (that's MLlib block-matrix territory, not a pandas
        surface)."""
        import pandas as pd

        if not isinstance(other, pd.DataFrame):
            other = pd.DataFrame(other)
        missing = [c for c in other.index if c not in self.columns]
        if missing:
            raise ValueError(f"dot: columns not in frame: {missing}")
        outs = []
        for j in other.columns:
            expr = None
            for c in other.index:
                term = F.col(c).cast("double") * F.lit(float(other.loc[c, j]))
                expr = term if expr is None else expr + term
            outs.append(expr.alias(str(j)))
        keep = [F.col(c) for c in self._sdf.columns if I.is_internal(c)]
        return Frame(self._sdf.select(*keep, *outs), self._index_names)

    def corrwith(self, other: "Frame", method: str = "pearson"):
        """Pairwise corr of matching columns (``frame.py:6984``) —
        aligned on index, ONE aggregation for all pairs."""
        from .operators.joins import join_on_index

        common = [c for c in self.columns if c in other.columns]
        j = join_on_index(self[common], other[common], how="inner", lsuffix="_l", rsuffix="_r")
        sdf = j._sdf
        import pandas as pd

        if method == "spearman":
            # same pairwise-complete masking as corr_matrix; the joined
            # base is persisted and each column is its own job (see
            # corr_matrix — chained ranks recompute quadratically)
            from pyspark import StorageLevel

            from .operators.distwindow import rank_blocked

            base = sdf.select(*[f"{c}_{s}" for c in common
                                for s in ("l", "r")]) \
                .persist(StorageLevel.MEMORY_AND_DISK)
            try:
                out = {}
                for c in common:
                    both = (F.col(f"{c}_l").isNotNull()
                            & F.col(f"{c}_r").isNotNull())
                    s2 = base
                    for side in ("l", "r"):
                        name = f"{c}_{side}"
                        s2 = s2.withColumn(name, F.when(both, F.col(name)))
                        s2 = rank_blocked(s2, name, method="average",
                                          out_name=name)
                    out[c] = s2.agg(
                        F.corr(F.col(f"{c}_l"), F.col(f"{c}_r"))).first()[0]
            finally:
                base.unpersist()
            return pd.Series(out)
        if method != "pearson":
            raise NotImplementedError(f"corrwith(method={method!r}): "
                                      "pearson/spearman only")
        aggs = [F.corr(F.col(f"{c}_l"), F.col(f"{c}_r")).alias(c) for c in common]
        row = sdf.agg(*aggs).first()
        return pd.Series(row.asDict())

    # ---------------- grouping-set extras (free in Spark; absent in
    # the reference, which only has pivot_table margins — SURVEY §2.4)
    def rollup(self, cols: list[str], aggs: dict[str, tuple[str, str]]) -> "Frame":
        from .operators.aggregates import resolve_agg

        exprs = [resolve_agg(fn, F.col(c)).alias(alias) for alias, (c, fn) in aggs.items()]
        return Frame(self._sdf.rollup(*cols).agg(*exprs))

    def cube(self, cols: list[str], aggs: dict[str, tuple[str, str]]) -> "Frame":
        from .operators.aggregates import resolve_agg

        exprs = [resolve_agg(fn, F.col(c)).alias(alias) for alias, (c, fn) in aggs.items()]
        return Frame(self._sdf.cube(*cols).agg(*exprs))

    def explode_col(self, column: str, outer: bool = False) -> "Frame":
        """Row-exploding array column (absent in the reference — added
        in pandas 0.25; exposed as an engine extra, SURVEY §2.8)."""
        fn = F.explode_outer if outer else F.explode
        sdf = self._sdf.withColumn(column, fn(F.col(column)))
        return Frame(sdf.drop(I.ORDER_COL), self._index_names)

    # ---------------- secondary pandas surface ----------------
    def pct_change(self, periods: int = 1) -> "Frame":
        """``generic.py:9065``. Same blocked shape as diff()."""
        from .functions.dtypes import is_numeric
        from .operators.distwindow import (consume_chained,
                                           mark_blocked_output,
                                           rolling_blocked)

        dtypes = self.dtypes
        cols = [c for c in self.columns if is_numeric(dtypes[c])]
        if periods == 0:  # pandas: x/x - 1 → 0.0 (null/0-div stay null)
            sdf = self._sdf
            for c in cols:
                sdf = sdf.withColumn(
                    c, I.pct_change_col(F.col(c), F.col(c)))
            return self._copy(sdf)

        def build(_w, ordered):
            fn = ((lambda c: F.lag(c, periods)) if periods > 0
                  else (lambda c: F.lead(c, -periods)))
            return [(c, I.pct_change_col(F.col(c), fn(F.col(c)).over(ordered)))
                    for c in cols]

        lo, hi = (-periods, 0) if periods > 0 else (0, -periods)
        out = rolling_blocked(consume_chained(self), F.col(I.ORDER_COL),
                              lo, hi, build, monotonic_id=True)
        return mark_blocked_output(self._copy(out))

    def round(self, decimals=0) -> "Frame":
        """``frame.py:... generic round``. ``bround`` = half-to-even,
        matching numpy/pandas rounding (F.round is half-up)."""
        from .functions.dtypes import is_numeric

        dtypes = self.dtypes  # physical names
        dec = decimals if isinstance(decimals, Mapping) else \
            {c: decimals for c in dtypes if is_numeric(dtypes[c])}
        sdf = self._sdf
        for lab, d in dec.items():
            # a mapping keyed by a duplicated label rounds EVERY occurrence
            for c in (self._phys_for_label(lab) or [lab]):
                if is_numeric(dtypes.get(c, "")):
                    sdf = sdf.withColumn(c, F.bround(F.col(c), int(d)))
        return self._copy(sdf)

    def _truthy(self, c: str) -> Column:
        """Python truthiness per dtype (pandas any/all): non-empty
        strings are True regardless of content; numerics != 0;
        booleans as-is. Nulls → null (skipna)."""
        from .functions.dtypes import is_numeric

        dt = self.dtypes[c]
        col = F.col(c)
        if dt == "boolean":
            t = col
        elif dt in ("string",):
            t = F.length(col) > 0
        elif is_numeric(dt):
            t = col.cast("double") != 0
        else:
            # date/timestamp/binary/array/...: Spark disallows the
            # DOUBLE cast; pandas treats any present value as truthy
            t = F.lit(True)
        return F.when(col.isNull(), F.lit(None)).otherwise(t.cast("int"))

    def any(self, axis: int = 0):
        """Per-column ANY (``generic.py:9525``) — one agg job;
        empty/all-null → False like pandas. ``axis=1`` = per-row ANY
        across columns, as a boolean Series (pure expression)."""
        if axis in (1, "columns"):
            from .series import Series

            e = F.lit(False)
            for c in self._phys_cols:
                e = e | F.coalesce(self._truthy(c).cast("boolean"), F.lit(False))
            return Series(self, e, None)
        return self._bool_reduce(lambda t: F.coalesce(F.max(t), F.lit(0)))

    def all(self, axis: int = 0):
        """Per-column ALL — skipna; empty/all-null → True (vacuous).
        ``axis=1`` = per-row ALL as a boolean Series."""
        if axis in (1, "columns"):
            from .series import Series

            e = F.lit(True)
            for c in self._phys_cols:
                e = e & F.coalesce(self._truthy(c).cast("boolean"), F.lit(True))
            return Series(self, e, None)
        return self._bool_reduce(lambda t: F.coalesce(F.min(t), F.lit(1)))

    def _bool_reduce(self, agg):
        """any/all axis=0: one agg job over physical columns; dict for
        unique labels (existing contract), Series when labels repeat."""
        phys = self._phys_cols
        row = self._sdf.agg(*[agg(self._truthy(c)).alias(f"__agg{i}__")
                              for i, c in enumerate(phys)]).first()
        vals = [bool(row[f"__agg{i}__"]) for i in range(len(phys))]
        if self._dup_labels:
            import pandas as pd

            dup = self._dup_labels
            return pd.Series(vals, index=[dup.get(c, c) for c in phys])
        return dict(zip(phys, vals))

    def _label_col(self) -> Column:
        """The per-row label pandas reductions report: the index column
        when one exists, else the TRUE 0-based position (see
        _position_col — raw __order__ ids are not positions; that path
        rebinds ``self._sdf``, so read the plan after calling this)."""
        return F.col(I.index_col(0)) if self._index_names else self._position_col()

    def _row_idx_of(self, best) -> "Series":
        """axis=1 arg-extremum: the COLUMN NAME holding the row's
        min/max among numeric columns (``frame.py:8091`` axis=1) —
        a when-chain, first match wins ties like pandas."""
        from .functions.dtypes import is_numeric
        from .series import Series

        dtypes = self.dtypes
        cols = [c for c in self.columns if is_numeric(dtypes[c])]
        vals = F.array(*[F.col(c).cast("double") for c in cols])
        target = best(F.filter(vals, lambda x: x.isNotNull()))
        e = F.lit(None).cast("string")
        for c in reversed(cols):
            e = F.when(F.col(c).cast("double") == target, F.lit(c)).otherwise(e)
        return Series(self, e, None)

    def idxmin(self, axis: int = 0):
        """Per-column label of the minimum — ONE agg job via min_by
        over (value, order): nulls excluded (null ordering keys are
        skipped), ties break to the FIRST occurrence like pandas.
        ``axis=1`` returns the column name of each row's minimum."""
        if axis in (1, "columns"):
            return self._row_idx_of(F.array_min)
        from .functions.dtypes import is_numeric

        dtypes = self.dtypes
        cols = [c for c in self.columns if is_numeric(dtypes[c])]

        def key(c):
            return F.when(F.col(c).isNotNull(), F.struct(F.col(c), F.col(I.ORDER_COL)))

        lab = self._label_col()  # may rebind self._sdf: read it after
        row = self._sdf.agg(*[F.min_by(lab, key(c)).alias(c) for c in cols]).first()
        return {c: row[c] for c in cols}

    def idxmax(self, axis: int = 0):
        if axis in (1, "columns"):
            return self._row_idx_of(F.array_max)
        from .functions.dtypes import is_numeric

        dtypes = self.dtypes
        cols = [c for c in self.columns if is_numeric(dtypes[c])]

        def key(c):
            # max over (value, -order): first occurrence wins ties
            return F.when(F.col(c).isNotNull(), F.struct(F.col(c), (-F.col(I.ORDER_COL)).alias("o")))

        lab = self._label_col()  # may rebind self._sdf: read it after
        row = self._sdf.agg(*[F.max_by(lab, key(c)).alias(c) for c in cols]).first()
        return {c: row[c] for c in cols}

    def mode(self):
        """``frame.py:7411`` — per-column modes (all ties, ascending),
        as a pandas DataFrame: the result is mode-cardinality-sized by
        definition (driver-side result, distributed computation)."""
        import pandas as pd

        out = {}
        for c in self.columns:
            counts = self._sdf.filter(F.col(c).isNotNull()).groupBy(c).count()
            mx = counts.agg(F.max("count")).first()[0]
            top = counts.filter(F.col("count") == F.lit(mx)).select(c).orderBy(c).collect()
            out[c] = [r[c] for r in top]
        n = max((len(v) for v in out.values()), default=0)
        return pd.DataFrame({c: v + [None] * (n - len(v)) for c, v in out.items()})

    def equals(self, other: "Frame") -> bool:
        """Positional value equality (``generic.py:1354``): same shape,
        same columns, same values at the same positions. Positions come
        from ``distwindow.row_position`` — no global window."""
        from .operators.distwindow import row_position

        if self.columns != other.columns:
            return False
        if self._sdf.count() != other._sdf.count():
            return False

        def with_pos(f: "Frame") -> SparkDataFrame:
            return row_position(f._sdf, "__pos__").select(
                "__pos__", *[F.col(c) for c in f.columns])

        a, b = with_pos(self), with_pos(other)
        joined = a.join(b, a["__pos__"] == b["__pos__"], "inner")
        neq = [~a[c].eqNullSafe(b[c]) for c in self.columns]
        mismatch = joined.filter(neq[0] if len(neq) == 1 else
                                 F.greatest(*[e.cast("int") for e in neq]) == 1)
        return mismatch.limit(1).count() == 0

    def take(self, indices) -> "Frame":
        """``generic.py:3068`` — positional selection IN the requested
        order (unlike a boolean filter). Positions come from the
        ``distwindow.row_position``; the (output_slot → position) map
        is a broadcast literal frame."""
        from .operators.distwindow import row_position

        idx = list(indices)
        if not idx:
            return self._copy(self._sdf.limit(0))
        neg = [i for i in idx if i < 0]
        total = self._sdf.count() if neg else None
        idx = [i if i >= 0 else total + i for i in idx]
        base = row_position(self._sdf, "__pos__")
        spark = self._sdf.sparkSession
        want = spark.createDataFrame(
            [(s, int(p)) for s, p in enumerate(idx)],
            ["__slot__", "__pos__"])
        out = (base.join(F.broadcast(want), "__pos__")
               .orderBy("__slot__").drop("__pos__", "__slot__", I.ORDER_COL)
               .withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
        res = self._copy(out)
        # pandas raises on out-of-bounds positions; a silent drop would
        # break callers that rely on len(out) == len(indices)
        n = res._sdf.count()
        if n != len(idx):
            raise IndexError(
                f"take: {len(idx) - n} position(s) out of bounds")
        return res

    def squeeze(self):
        """``generic.py:733`` — 1-column frame → Series."""
        cols = self.columns
        return self[cols[0]] if len(cols) == 1 else self

    def add_prefix(self, prefix: str) -> "Frame":
        return self.rename(columns={c: f"{prefix}{c}" for c in self.columns})

    def add_suffix(self, suffix: str) -> "Frame":
        return self.rename(columns={c: f"{c}{suffix}" for c in self.columns})

    def rename_axis(self, name) -> "Frame":
        out = self._copy(self._sdf)
        if out._index_names:
            names = [name] if isinstance(name, str) or name is None else list(name)
            out._index_names = names + out._index_names[len(names):]
        return out

    def pop(self, column: str):
        """``frame.py:3984`` — remove the column IN PLACE, return it."""
        old = self._copy(self._sdf)
        s = old[column]
        self._sdf = self._sdf.drop(column)
        return s

    def items(self):
        """Yield (name, Series) per column (``frame.py:818``)."""
        for c in self.columns:
            yield c, self[c]

    iteritems = items

    def iterrows(self):
        """Driver-side row iterator (``frame.py:847``) — streams
        partitions via toLocalIterator, never materializing the frame."""
        import pandas as pd

        cols = self.columns
        for pos, row in enumerate(self._sdf.orderBy(I.ORDER_COL).toLocalIterator()):
            label = row[I.index_col(0)] if self._index_names else pos
            yield label, pd.Series({c: row[c] for c in cols})

    def itertuples(self, index: bool = True, name: str = "Pandas"):
        """``frame.py:919`` — namedtuple row iterator, driver-side."""
        from collections import namedtuple

        cols = self.columns
        fields = (["Index"] if index else []) + cols
        tup = namedtuple(name, fields, rename=True)
        for pos, row in enumerate(self._sdf.orderBy(I.ORDER_COL).toLocalIterator()):
            label = row[I.index_col(0)] if self._index_names else pos
            vals = ([label] if index else []) + [row[c] for c in cols]
            yield tup(*vals)

    def to_numpy(self):
        return self.to_pandas().to_numpy()

    def _valid_index(self, last: bool) -> object:
        cond = None
        for c in self.columns:
            nn = F.col(c).isNotNull()
            cond = nn if cond is None else (cond | nn)
        valid = self._sdf.filter(cond) if cond is not None else self._sdf
        row = valid.orderBy(F.col(I.ORDER_COL).desc() if last else F.col(I.ORDER_COL).asc()).limit(1).collect()
        if not row:
            return None
        if self._index_names:
            return row[0][I.index_col(0)]
        marker = row[0][I.ORDER_COL]
        return self._sdf.filter(F.col(I.ORDER_COL) < marker).count()

    def first_valid_index(self):
        """``generic.py:9993`` — label of the first row holding any
        non-null value (position when no index is set)."""
        return self._valid_index(last=False)

    def last_valid_index(self):
        return self._valid_index(last=True)

    def memory_usage(self) -> dict:
        """Estimated bytes per column (``frame.py:2336`` analog): fixed
        width × rows for primitives, summed octet length for strings /
        binaries. One agg job."""
        fixed = {"tinyint": 1, "smallint": 2, "int": 4, "bigint": 8, "float": 4,
                 "double": 8, "boolean": 1, "date": 4}
        dtypes = self.dtypes
        aggs, strings = [], []
        for c in dtypes:
            dt = dtypes[c]
            if dt in ("string", "binary"):
                strings.append(c)
                aggs.append(F.coalesce(F.sum(F.octet_length(F.col(c))), F.lit(0)).alias(c))
            else:
                width = fixed.get(dt, 8)
                aggs.append((F.count(F.lit(1)) * width).alias(c))
        row = self._sdf.agg(*aggs).first()
        return {c: int(row[c]) for c in dtypes}

    def lookup(self, row_labels, col_labels) -> list:
        """``frame.py:3646`` (0.24 API): values at each (row, col)
        pair. Driver-bounded by len(row_labels) — the frame itself is
        only filtered, never collected."""
        if len(row_labels) != len(col_labels):
            raise ValueError("row and column labels must be same length")
        if not self._index_names:
            raise ValueError("lookup needs an index (set_index first)")
        idx = F.col(I.index_col(0))
        wanted = self._sdf.filter(idx.isin(list(set(row_labels))))
        rows = {r[I.index_col(0)]: r for r in wanted.collect()}
        return [rows[rl][cl] if rl in rows else None
                for rl, cl in zip(row_labels, col_labels)]

    def reindex(self, index=None, columns=None, fill_value=None,
                method=None, tolerance=None) -> "Frame":
        """``frame.py:3836``: conform to new row labels (left join from
        the label list — missing labels become null/fill rows) and/or a
        new column list. ``method='ffill'/'bfill'/'nearest'`` fills
        introduced labels from the nearest existing label — one
        distributed as-of join (operators/joins.py), not a driver loop."""
        out_sdf = self._sdf
        out_index = list(self._index_names)
        if index is not None and len(list(index)) == 0:
            out_sdf = out_sdf.limit(0)
            index = None
        if method is not None and index is not None:
            return self._reindex_method(index, method, tolerance, fill_value,
                                        columns)
        if index is not None:
            if len(self._index_names) != 1:
                raise ValueError("reindex(index=...) needs a single-level index")
            self._assert_unique_axis(self._sdf, "reindex")
            spark = self._sdf.sparkSession
            # numpy scalars (np.int64 from an ndarray label list) break
            # createDataFrame schema inference — unwrap to Python objects
            lab = spark.createDataFrame(
                [(i, l.item() if hasattr(l, "item") else l)
                 for i, l in enumerate(index)],
                ["__pos__", "__lab__"])
            ic = I.index_col(0)
            dtype = dict((f.name, f.dataType.simpleString())
                         for f in self._sdf.schema.fields)[ic]
            lab = lab.withColumn("__lab__", F.col("__lab__").cast(dtype))
            joined = lab.join(out_sdf.drop(I.ORDER_COL)
                              .withColumnRenamed(ic, "__lab__")
                              .withColumn("__hit__", F.lit(1)), "__lab__", "left")
            if fill_value is not None:
                # pandas fills ONLY cells INTRODUCED by reindexing —
                # genuine NaNs in retained rows stay NaN
                for c in self.columns:
                    joined = joined.withColumn(
                        c, F.when(F.col("__hit__").isNull(), F.lit(fill_value))
                        .otherwise(F.col(c)))
            joined = (joined.drop("__hit__").orderBy("__pos__")
                      .withColumnRenamed("__lab__", ic)
                      .drop("__pos__")
                      .withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
            out_sdf = joined
        if columns is not None:
            keep = [c for c in out_sdf.columns if I.is_internal(c)]
            have = set(I.data_columns(out_sdf))
            fill = F.lit(None) if fill_value is None else F.lit(fill_value)
            sel = [F.col(c) for c in keep]
            for c in columns:
                sel.append(F.col(c) if c in have else fill.alias(c))
            out_sdf = out_sdf.select(*sel)
        return Frame(out_sdf, out_index, self._col_labels)

    def _reindex_method(self, index, method, tolerance, fill_value,
                        columns) -> "Frame":
        """``reindex(method=)`` (``frame.py:3836``; ``get_indexer``
        method semantics): fill introduced labels from the nearest
        existing label — ONE distributed as-of join of the label list
        against the frame (operators/joins.py), no driver loop.
        Delta: pandas also accepts monotonic-decreasing indexes; this
        engine requires increasing (same ValueError otherwise)."""
        import pandas as pd

        from .operators.joins import merge_asof

        dirs = {"ffill": "backward", "pad": "backward",
                "bfill": "forward", "backfill": "forward",
                "nearest": "nearest"}
        if method not in dirs:
            raise ValueError(f"invalid fill method {method!r}")
        if len(self._index_names) != 1:
            raise ValueError("reindex(method=...) needs a single-level index")
        self._assert_unique_axis(self._sdf, "reindex")
        name = self._index_names[0] or "level_0"
        src = self.reset_index(drop=False)
        if not src[name].is_monotonic_increasing():
            raise ValueError("index must be monotonic increasing or decreasing")
        src = src._copy(src._sdf.withColumn("__hit__", F.lit(1)))
        labels = [l.item() if hasattr(l, "item") else l for l in index]
        spark = self._sdf.sparkSession
        lab_f = Frame.from_pandas(spark, pd.DataFrame({name: labels}))
        dtype = dict(src._sdf.select(name).dtypes)[name]
        lab_f = lab_f._copy(lab_f._sdf.withColumn(name, F.col(name).cast(dtype)))
        joined = merge_asof(lab_f, src, on=name, direction=dirs[method],
                            tolerance=tolerance, nearest_tie="forward")
        sdf = joined._sdf
        if fill_value is not None:
            # method fills nearest-label cells; fill_value covers only
            # labels that stayed unmatched (outside tolerance / no
            # neighbor) — genuine NaNs in matched rows stay NaN
            for c in self.columns:
                sdf = sdf.withColumn(
                    c, F.when(F.col("__hit__").isNull(), F.lit(fill_value))
                    .otherwise(F.col(c)))
        sdf = sdf.drop("__hit__").withColumnRenamed(name, I.index_col(0))
        res = Frame(sdf, [self._index_names[0]], self._col_labels)
        if columns is not None:
            res = res.reindex(columns=columns, fill_value=fill_value)
        return res

    def asof(self, where, subset=None):
        """``DataFrame.asof`` (``generic.py:6508`` frame mode): the last
        row at or before label ``where`` whose ``subset`` columns are
        all non-null, as a dict (list of dicts for a list of probes —
        one bounded max_by aggregation job per probe, driver-sized
        output)."""
        import functools
        import operator as op

        cols = subset or self.columns
        cols = [cols] if isinstance(cols, str) else list(cols)
        scalar = not isinstance(where, (list, tuple))
        probes = [where] if scalar else list(where)
        lbl = self._label_col()  # may rebind self._sdf: read it after
        sdf = self._sdf.withColumn("__lbl__", lbl)
        ok = functools.reduce(op.and_, [F.col(c).isNotNull() for c in cols])
        rows = []
        for wv in probes:
            r = (sdf.filter((F.col("__lbl__") <= F.lit(wv)) & ok)
                 .agg(F.max_by(F.struct(*[F.col(c) for c in self.columns]),
                               F.col(I.ORDER_COL)).alias("r"))
                 .first()["r"])
            rows.append(None if r is None else r.asDict())
        return rows[0] if scalar else rows

    @staticmethod
    def _assert_unique_axis(sdf, ctx: str) -> None:
        """pandas raises "cannot reindex from a duplicate axis" —
        without this the label equi-join silently fans rows out. One
        hash-agg + limit(1) probe job."""
        ic = I.index_col(0)
        dup = sdf.groupBy(ic).count().filter(F.col("count") > 1).limit(1)
        if dup.count() > 0:
            raise ValueError(f"cannot {ctx} from a duplicate axis")

    def align(self, other: "Frame", join: str = "outer") -> tuple:
        """``generic.py:8037``: index-align two frames; returns
        (left, right) over the joined label set. One equi-join on the
        index column — both frames keep their own data columns."""
        if len(self._index_names) != 1 or len(other._index_names) != 1:
            raise ValueError("align needs single-level indexes on both frames")
        self._assert_unique_axis(self._sdf, "align")
        self._assert_unique_axis(other._sdf, "align")
        how = {"outer": "full_outer", "inner": "inner",
               "left": "left", "right": "right"}[join]
        ic = I.index_col(0)
        lcols, rcols = self.columns, other.columns
        a = self._sdf.select(F.col(ic), F.col(I.ORDER_COL).alias("__lo__"),
                             *[F.col(c).alias(f"__l_{c}") for c in lcols])
        b = other._sdf.select(F.col(ic).alias("__ric__"),
                              F.col(I.ORDER_COL).alias("__ro__"),
                              *[F.col(c).alias(f"__r_{c}") for c in rcols])
        # pandas: outer/inner sort the joined labels; left/right keep
        # the DRIVING frame's original label order
        sort_key = {"left": F.col("__lo__"), "right": F.col("__ro__")}.get(join, F.col(ic))
        joined = (a.join(b, a[ic].eqNullSafe(b["__ric__"]), how)
                  .withColumn(ic, F.coalesce(F.col(ic), F.col("__ric__")))
                  .drop("__ric__")
                  .orderBy(sort_key)
                  .drop("__lo__", "__ro__")
                  .withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
        # pandas aligns COLUMNS too: both outputs carry the sorted
        # union of column labels, missing ones all-null
        union = sorted(set(lcols) | set(rcols))

        def side(prefix: str, have: list[str], names) -> "Frame":
            sel = [F.col(ic), F.col(I.ORDER_COL)]
            for c in union:
                sel.append(F.col(f"{prefix}{c}").alias(c) if c in have
                           else F.lit(None).alias(c))
            return Frame(joined.select(*sel), names)

        return (side("__l_", lcols, self._index_names),
                side("__r_", rcols, other._index_names))

    def update(self, other: "Frame") -> None:
        """``frame.py:5545``: overwrite with other's non-null values on
        matching index labels and shared columns — IN PLACE, one join."""
        if len(self._index_names) != 1 or len(other._index_names) != 1:
            raise ValueError("update needs single-level indexes on both frames")
        ic = I.index_col(0)
        # a duplicate label in `other` would fan out self's rows
        # (duplicating order ids) — pandas raises on a duplicate axis
        self._assert_unique_axis(other._sdf, "update")
        common = [c for c in self.columns if c in other.columns]
        b = other._sdf.select(F.col(ic).alias("__uic__"),
                              *[F.col(c).alias(f"__u_{c}") for c in common])
        joined = self._sdf.join(F.broadcast(b),
                                self._sdf[ic].eqNullSafe(b["__uic__"]), "left")
        for c in common:
            joined = joined.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
        self._sdf = joined.drop("__uic__", *[f"__u_{c}" for c in common])

    def transform(self, func) -> "Frame":
        """``frame.py:... NDFrame.transform``: per-column, shape
        preserving. Strings resolve to Catalyst functions (JVM);
        callables go through the Arrow-batched Series.apply path."""
        specs = func if isinstance(func, Mapping) else {c: func for c in self.columns}
        sdf = self._sdf
        for c, f in specs.items():
            if isinstance(f, str):
                sdf = sdf.withColumn(c, getattr(F, f)(F.col(c)))
            else:
                tmp = self._copy(sdf)
                sdf = tmp.assign(**{c: tmp[c].apply(f)})._sdf
        return self._copy(sdf)

    # ---------------- shape / ndarray-era properties ----------------
    ndim = 2

    @property
    def shape(self) -> tuple:
        # row count requires running the plan (lazy frame) — one job
        return (len(self), len(self.columns))

    @property
    def size(self) -> int:
        return len(self) * len(self.columns)

    @property
    def values(self):
        return self.to_numpy()

    @property
    def T(self) -> "Frame":
        return self.transpose_small()

    def infer_objects(self) -> "Frame":
        return self  # Spark schemas are always concretely typed

    def convert_dtypes(self) -> "Frame":
        return self  # every Spark type is already nullable

    # ---------------- elementwise / dtype delegations ----------------
    def clip(self, lower=None, upper=None) -> "Frame":
        from .functions.dtypes import is_numeric

        sdf = self._sdf
        for c, dt in self.dtypes.items():
            if is_numeric(dt):
                col = F.col(c)
                if lower is not None:
                    col = F.greatest(col, F.lit(lower))
                if upper is not None:
                    col = F.least(col, F.lit(upper))
                # greatest/least SKIP nulls (SQL); pandas keeps NaN
                sdf = sdf.withColumn(
                    c, F.when(F.col(c).isNull(), F.lit(None)).otherwise(col))
        return self._copy(sdf)

    def clip_lower(self, threshold) -> "Frame":
        return self.clip(lower=threshold)

    def clip_upper(self, threshold) -> "Frame":
        return self.clip(upper=threshold)

    def copy(self, deep: bool = True) -> "Frame":
        """Frames are immutable plans — copy is a new wrapper over the
        same plan (``generic.py:5665``; deep= is a no-op by design)."""
        return self._copy(self._sdf)

    def bool(self) -> bool:
        """``generic.py:1464`` — truth value of a single-element frame."""
        pdf = self.head(2).to_pandas()
        if pdf.shape != (1, 1):
            raise ValueError(
                "bool() needs exactly one element; frame has more")
        return bool(pdf.iloc[0, 0])

    def compound(self) -> "object":
        """``generic.py:9316`` compound growth per numeric column:
        (1 + r).prod() - 1, one aggregation row."""
        return self._reduce(lambda c: F.product(F.col(c) + F.lit(1.0)) - F.lit(1.0))

    def transpose(self, limit: int = 1000) -> "Frame":
        return self.transpose_small(limit)

    def swapaxes(self, axis1: int = 0, axis2: int = 1) -> "Frame":
        """``generic.py`` swapaxes — for a 2-D frame this IS transpose
        (driver-bounded like transpose_small)."""
        return self if axis1 == axis2 else self.transpose_small()

    def get_value(self, index, col):
        """0.24-deprecated scalar getter — same as .at."""
        return self.at[index, col]

    def set_value(self, index, col, value):
        raise NotImplementedError(
            "set_value mutates in place; frames are immutable plans — "
            "use mask/where or assign to build the updated frame")

    def set_axis(self, labels, axis: int = 0) -> "Frame":
        """``generic.py:581`` — axis=1 relabels columns; axis=0 sets
        the row index to the given label list (positional join, label
        count must equal the row count)."""
        if axis in (1, "columns"):
            if len(labels) != len(self.columns):
                raise ValueError("set_axis: label count != column count")
            labels = list(labels)
            if self._dup_labels or len(set(labels)) != len(labels):
                # positional relabel — the dict-zip rename collapses
                # duplicate sources/targets; this is also the standard
                # way OUT of duplicate labels (set_axis with unique
                # names)
                phys = self._phys_cols
                keep = [F.col(c) for c in self._sdf.columns
                        if I.is_internal(c)]
                sel, dmap = _dup_aliases(list(zip(phys, labels)))
                return self._derived(
                    Frame(self._sdf.select(*keep, *sel),
                          self._index_names, dup_labels=dmap))
            return self.rename(dict(zip(self.columns, labels)))
        import pandas as pd

        from .operators.distwindow import row_position

        base = self.reset_index(drop=True) if self._index_names else self
        lab = pd.DataFrame({"__lab__": list(labels)})
        lf = Frame.from_pandas(self._sdf.sparkSession, lab)
        left = row_position(base._sdf, "__pos__")
        right = row_position(lf._sdf, "__pos__").select("__pos__", "__lab__")
        joined = left.join(F.broadcast(right), "__pos__", "inner") \
            .drop("__pos__")
        return Frame(joined.withColumnsRenamed({"__lab__": I.index_col(0)}),
                     [None], self._col_labels)

    def to_period(self, freq: str = "M", on: str | None = None) -> "Frame":
        """Timestamp column(s) → period labels (``generic.py``
        to_period; string-label period model, SURVEY §1.3)."""
        cols = [on] if on else [c for c, dt in self.dtypes.items()
                                if dt.startswith("timestamp")]
        out = self
        for c in cols:
            out = out.assign(**{c: out[c].dt.to_period(freq)})
        return out

    def to_timestamp(self, on: str | None = None) -> "Frame":
        """Period labels / date strings → timestamps."""
        cols = [on] if on else [c for c, dt in self.dtypes.items()
                                if dt == "string"]
        sdf = self._sdf
        for c in cols:
            sdf = sdf.withColumn(c, F.to_timestamp(F.col(c)))
        return self._copy(sdf)

    def reorder_levels(self, order: list) -> "Frame":
        """Permute row-index levels (``frame.py`` reorder_levels) —
        pure metadata + column rename, no job."""
        names = self._index_names or []
        lv = [self._index_names.index(o) if isinstance(o, str) else int(o)
              for o in order]
        if sorted(lv) != list(range(len(names))):
            raise ValueError(f"reorder_levels order {order!r} must "
                             f"permute all {len(names)} levels")
        sdf = self._sdf
        tmp = {I.index_col(i): f"__ro_{i}__" for i in range(len(names))}
        sdf = sdf.withColumnsRenamed(tmp)
        sdf = sdf.withColumnsRenamed(
            {f"__ro_{src}__": I.index_col(dst)
             for dst, src in enumerate(lv)})
        return Frame(sdf, [names[i] for i in lv], self._col_labels)

    def first(self, offset: str, on: str) -> "Frame":
        """``generic.py:7818`` first('3D') — time-based head."""
        return self.first_offset(offset, on)

    def last(self, offset: str, on: str) -> "Frame":
        return self.last_offset(offset, on)

    def tshift(self, periods: int = 1, freq: str = "1d", on: str | None = None) -> "Frame":
        """``generic.py:8617`` — shift the time axis by periods*freq
        (values stay put, timestamps move)."""
        from .window import offset_to_us

        us = periods * offset_to_us(freq if freq[0].isdigit() else "1" + freq)
        cols = [on] if on else [c for c, dt in self.dtypes.items()
                                if dt.startswith("timestamp")]
        sdf = self._sdf
        for c in cols:
            sdf = sdf.withColumn(c, F.timestamp_micros(
                F.unix_micros(F.col(c).cast("timestamp")) + F.lit(us)))
        return self._copy(sdf)

    def abs(self) -> "Frame":
        from .functions.dtypes import is_numeric

        sdf = self._sdf
        for c, dt in self.dtypes.items():
            if is_numeric(dt):
                sdf = sdf.withColumn(c, F.abs(F.col(c)))
        return self._copy(sdf)

    def isin(self, values: Iterable) -> "Frame":
        return self.isin_frame(values)

    def droplevel(self, level: int = 0, axis: int = 0) -> "Frame":
        return self.droplevel_rows(level) if axis == 0 else self.droplevel_columns(level)

    def explode(self, column: str, outer: bool = False) -> "Frame":
        return self.explode_col(column, outer=outer)

    def stack(self) -> "Frame":
        """``reshape.py:446`` — columns move into the innermost row
        level. With a row index, the result keeps (index..., level_1)
        as its index like pandas (the operator alone melts and would
        DROP the index levels)."""
        from .operators.reshape import stack

        if not self._index_names:
            return stack(self)
        names = [nm or f"level_{i}" for i, nm in enumerate(self._index_names)]
        flat = self.reset_index(drop=False)
        return stack(flat, id_vars=names).set_index(names + ["level_1"])

    def tz_localize(self, tz: str, on: str) -> "Frame":
        """Attach a timezone to the naive timestamps of ``on``."""
        return self.assign(**{on: self[on].dt.tz_localize(tz)})

    def tz_convert(self, tz: str, on: str) -> "Frame":
        return self.assign(**{on: self[on].dt.tz_convert(tz)})

    # ---------------- sink delegations (sources/io.py) ----------------
    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True) -> None:
        from .sources import io

        io.to_csv(self, path, mode=mode, header=header)

    def to_json(self, path: str, mode: str = "overwrite") -> None:
        from .sources import io

        io.to_json(self, path, mode=mode)

    def to_parquet(self, path: str, mode: str = "overwrite",
                   partition_by: list[str] | None = None) -> None:
        from .sources import io

        io.to_parquet(self, path, mode=mode, partition_by=partition_by)

    def to_dict(self, orient: str = "records"):
        from .sources import io

        return io.to_dict(self, orient=orient)

    def to_records(self, index: bool = False):
        from .sources import io

        return io.to_records(self, index=index)

    def to_string(self, n: int | None = None) -> str:
        from .sources import io

        return io.to_string(self, n=n)

    # ---------------- misc ----------------
    def pipe(self, func: Callable, *args, **kwargs):
        return func(self, *args, **kwargs)

    # ---------------- Spark-native controls (engine extensions) -----
    # The reference is eager in-memory, so it has no analogs; a Spark
    # engine's users need these to operate pipelines at scale.
    def explain(self, mode: str = "formatted") -> None:
        """Print the physical plan (Spark ``DataFrame.explain``)."""
        self._sdf.explain(mode)

    def persist(self, storage_level: str = "MEMORY_AND_DISK") -> "Frame":
        from pyspark import StorageLevel

        self._sdf = self._sdf.persist(getattr(StorageLevel, storage_level))
        return self

    def cache(self) -> "Frame":
        return self.persist()

    def unpersist(self) -> "Frame":
        self._sdf = self._sdf.unpersist()
        return self

    @property
    def npartitions(self) -> int:
        return self._sdf.rdd.getNumPartitions()

    def repartition(self, n: int, *cols: str) -> "Frame":
        """Exchange to ``n`` partitions (optionally hash-keyed on
        ``cols`` — pre-co-locate before a chain of same-key ops)."""
        sdf = self._sdf.repartition(n, *cols) if cols else self._sdf.repartition(n)
        return self._copy(sdf)

    def isin_frame(self, values: Iterable) -> "Frame":
        out = self._sdf
        vals = list(values)
        for c in self.columns:
            out = out.withColumn(c, F.col(c).isin(vals))
        return self._copy(out)

    def explain(self, mode: str = "formatted") -> None:
        self.to_spark().explain(mode)

    def cache(self) -> "Frame":
        self.__dict__.pop("_presort", None)  # memo points at pre-cache plan
        self._sdf = self._sdf.cache()
        return self

    def repartition(self, n: int, *cols) -> "Frame":
        return self._copy(self._sdf.repartition(n, *cols) if cols else self._sdf.repartition(n))

    def map_batches(self, func: Callable, schema) -> "Frame":
        """mapInPandas escape hatch (Arrow-batched; SURVEY §2.11)."""
        return Frame(self.to_spark().mapInPandas(func, schema))

    def __repr__(self) -> str:  # driver-side render of limit() only
        return f"Frame[{', '.join(f'{c}: {t}' for c, t in self.dtypes.items())}]"


# Frame arithmetic/comparison DUNDERS (``ops.py``
# add_special_arithmetic_methods installs these on DataFrame too):
# delegate to the flex methods, which carry the zero-division and
# alignment rules. __eq__/__ne__ become elementwise like pandas;
# identity hashing is kept (pandas sets __hash__ None — internal
# code and tests here may still use frames in identity sets).
for _dunder, _flex_name in [
    ("__add__", "add"), ("__radd__", "radd"),
    ("__sub__", "sub"), ("__rsub__", "rsub"),
    ("__mul__", "mul"), ("__rmul__", "rmul"),
    ("__truediv__", "div"), ("__rtruediv__", "rdiv"),
    ("__floordiv__", "floordiv"), ("__rfloordiv__", "rfloordiv"),
    ("__mod__", "mod"), ("__rmod__", "rmod"),
    ("__pow__", "pow"), ("__rpow__", "rpow"),
    ("__eq__", "eq"), ("__ne__", "ne"),
    ("__lt__", "lt"), ("__le__", "le"),
    ("__gt__", "gt"), ("__ge__", "ge"),
]:
    def _make_dunder(flex_name):
        def _m(self, other):
            return getattr(self, flex_name)(other)

        return _m

    setattr(Frame, _dunder, _make_dunder(_flex_name))

Frame.__hash__ = object.__hash__


def _frame_bool(self):
    raise ValueError(
        "The truth value of a Frame is ambiguous. Use a.empty, a.any() "
        "or a.all().")


Frame.__bool__ = _frame_bool
Frame.__neg__ = lambda self: self.mul(-1)
Frame.__abs__ = lambda self: self.abs()
Frame.__pos__ = lambda self: self._copy(self._sdf)
Frame.__round__ = lambda self, decimals=0: self.round(decimals)


# elementwise logical/bitwise ops — ``(df > 0) & (df < 5)``,
# ``int_df ^ 0xff``. pandas dtype rules (ops.py mask_cmp_op /
# numpy bitwise_*): boolean columns get logical ops, integral
# columns get bitwise ops, bool⊗int coerces bool→int, anything
# else raises. &/|/^ are commutative, so the r-variants share the
# same implementation.
_INT_DTYPES = ("tinyint", "smallint", "int", "bigint")


def _logic_combine(a, b, op: str, logical: bool):
    if logical:
        if op == "and":
            return a & b
        if op == "or":
            return a | b
        return a != b  # boolean xor = inequality (Column has no ^)
    if op == "and":
        return a.bitwiseAND(b)
    if op == "or":
        return a.bitwiseOR(b)
    return a.bitwiseXOR(b)


def _frame_logic_op(self, other, op: str) -> "Frame":
    """``&``/``|``/``^`` with pandas dtype semantics (see above)."""
    sym = {"and": "&", "or": "|", "xor": "^"}[op]
    if isinstance(other, Frame):
        def fn(a, b, lt, rt):
            if lt == "boolean" and rt == "boolean":
                return _logic_combine(a, b, op, logical=True)
            lint, rint = lt in _INT_DTYPES, rt in _INT_DTYPES
            if (lint or lt == "boolean") and (rint or rt == "boolean"):
                return _logic_combine(
                    a.cast("bigint") if lt == "boolean" else a,
                    b.cast("bigint") if rt == "boolean" else b,
                    op, logical=False)
            raise TypeError(
                f"unsupported operand dtypes for {sym}: {lt} and {rt}")

        return self._flex_op(other, fn, typed=True)
    import numpy as np

    is_bool = isinstance(other, (bool, np.bool_))
    if not is_bool and not isinstance(other, (int, np.integer)):
        raise TypeError(
            f"unsupported operand type(s) for {sym}: 'Frame' and "
            f"'{type(other).__name__}'")
    sdf = self._sdf
    for c, dt in self.dtypes.items():
        a = F.col(c)
        if dt == "boolean":
            out = (_logic_combine(a, F.lit(bool(other)), op, logical=True)
                   if is_bool else
                   _logic_combine(a.cast("bigint"), F.lit(int(other)),
                                  op, logical=False))
        elif dt in _INT_DTYPES:
            out = _logic_combine(a, F.lit(int(other)), op, logical=False)
        else:
            raise TypeError(
                f"unsupported operand dtypes for {sym}: {dt} and "
                f"{type(other).__name__}")
        sdf = sdf.withColumn(c, out)
    return self._copy(sdf)


for _dunder, _op in [
    ("__and__", "and"), ("__rand__", "and"),
    ("__or__", "or"), ("__ror__", "or"),
    ("__xor__", "xor"), ("__rxor__", "xor"),
]:
    def _make_logic(op):
        def _m(self, other):
            return _frame_logic_op(self, other, op)

        return _m

    setattr(Frame, _dunder, _make_logic(_op))


def _frame_invert(self):
    """``~df``: elementwise NOT for boolean columns, bitwise NOT
    (−x−1, numpy semantics) for integral ones."""
    sdf = self._sdf
    for c, dt in self.dtypes.items():
        col = F.col(c)
        if dt == "boolean":
            sdf = sdf.withColumn(c, ~col)
        elif dt in ("tinyint", "smallint", "int", "bigint"):
            sdf = sdf.withColumn(c, F.bitwise_not(col))
        else:
            raise TypeError(f"bad operand type for unary ~: column {c!r} is {dt}")
    return self._copy(sdf)


Frame.__invert__ = _frame_invert


def register_frame_accessor(name: str):
    """Custom accessor registration (``core/accessor.py:259``
    ``register_dataframe_accessor`` analog): the decorated class is
    instantiated with the Frame on first attribute access.

    >>> @register_frame_accessor("geo")
    ... class GeoAccessor:
    ...     def __init__(self, frame): self._f = frame
    """

    def deco(cls):
        def prop(self):
            return cls(self)

        setattr(Frame, name, property(prop))
        return cls

    return deco
