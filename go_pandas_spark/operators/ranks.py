"""Grouped rank(method=average/min/max/first/dense, pct, na_option)
from one tie table.

Reference parity: ``pandas/core/algorithms.py:833`` and the grouped
``group_rank`` kernel (``pandas/_libs/groupby_helper.pxi.in:414``),
which sorts each group and scans it. Here every grouped rank reads a
*tie table* instead:

    groupBy(keys, value).count()     one hash aggregate, map-side partial

one row per (group, distinct value) holding its row count ``cnt``.
Windows over that small table, ordered by value within each group,
derive:

- ``off``   rows of the group whose value sorts strictly before
            (exclusive running sum of ``cnt``)
- ``dense`` 1-based position of the value among the group's distinct
            values
- ``tot``   rows of the group that receive a rank (sum of ``cnt``)
- ``nd``    distinct values of the group (table rows)

The table is joined back to the rows null-safely on (keys, value)
and lands as one struct column. Each method is then an expression of
the row's tie struct:

- min     = off + 1
- max     = off + cnt
- average = off + (cnt + 1) / 2
- dense   = dense
- first   = off + row_number() over partitionBy(keys, value)
            .orderBy(__order__) — ties broken by frame order; the only
            row-level window, fanned out over (key, value) pairs

pct=True divides by ``tot``, or by ``nd`` for method='dense' (the
reference divides dense ranks by the number of distinct values,
``algos_rank_helper.pxi.in:192-195``).

na_option (``algorithms.py:833``):

- 'keep'   — null values are left out of the table: their join finds
             no row, so every rank stays NaN and ``tot``/``nd`` count
             non-null rows only.
- 'top'    — the null value is one more table row sorted first: it
             takes the smallest ranks, counts in ``tot`` and is one
             distinct value in ``nd``.
- 'bottom' — the same, sorted last.

``ascending=False`` reverses the value order; na_option still places
the nulls. Spark normalizes floating keys before grouping, partitioning
and joining (-0.0 → 0.0, one NaN), so -0.0/0.0 tie as in the
reference; pandas NaN arrives as null. A null key is one group of its
own here — callers mask it when the groupby drops null keys.

One table per anchor: ``tie_column`` joins the table into a Series'
anchor frame (``Frame._augment``) once per (keys, value, ascending,
na_option), keyed on the resolved key/value attributes, so several
ranks of one column share one aggregate and one join, and a column
replaced in place gets a fresh table. Nothing here launches a Spark
job. Scale: the aggregate, the join and ``first``'s window fan out;
the table's prefix window runs one task per group, over that group's
distinct values only (SCALE.md).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .. import _internal as I

_METHODS = ("average", "min", "max", "first", "dense")
_NA_OPTIONS = ("keep", "top", "bottom")


def check_args(method: str, na_option: str) -> None:
    if method not in _METHODS:
        raise ValueError(f"method={method!r}")
    if na_option not in _NA_OPTIONS:
        raise ValueError(f"na_option={na_option!r}")


def tie_table(sdf: DataFrame, keys: list[str], value: str, prefix: str,
              ascending: bool = True, na_option: str = "keep") -> DataFrame:
    """The (keys, value) tie table of ``sdf``: key columns ``{prefix}k{i}``,
    value ``{prefix}v`` and the struct ``{prefix}`` of (off, cnt, dense,
    tot, nd) — see the module docstring."""
    v = F.col(value)
    if na_option == "keep":
        sdf = sdf.filter(v.isNotNull())
    ks = [f"{prefix}k{i}" for i in range(len(keys))]
    vs = f"{prefix}v"
    t = sdf.groupBy(*[F.col(k).alias(a) for k, a in zip(keys, ks)],
                    v.alias(vs)).agg(F.count(F.lit(1)).alias("cnt"))
    tv = F.col(vs)
    if ascending:
        order = tv.asc_nulls_first() if na_option == "top" else tv.asc_nulls_last()
    else:
        order = tv.desc_nulls_first() if na_option == "top" else tv.desc_nulls_last()
    w = W.partitionBy(*ks).orderBy(order)
    grp = W.partitionBy(*ks)
    cnt = F.col("cnt")
    ties = F.struct(
        (F.sum(cnt).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
         - cnt).alias("off"),
        cnt.alias("cnt"),
        F.row_number().over(w).alias("dense"),
        F.sum(cnt).over(grp).alias("tot"),
        F.count(F.lit(1)).over(grp).alias("nd"))
    return t.select(*ks, vs, ties.alias(prefix))


def join_ties(sdf: DataFrame, table: DataFrame, keys: list[str],
              value: str, prefix: str) -> DataFrame:
    """``sdf`` plus ``tie_table``'s struct column ``prefix``, joined
    null-safely on (keys, value); rows and columns of ``sdf`` kept."""
    ks = [f"{prefix}k{i}" for i in range(len(keys))]
    cond = F.col(value).eqNullSafe(F.col(f"{prefix}v"))
    for k, a in zip(keys, ks):
        cond = cond & F.col(k).eqNullSafe(F.col(a))
    return sdf.join(table, cond, "left").drop(*ks, f"{prefix}v")


def rank_from_ties(ties: Column, method: str = "average", pct: bool = False,
                   first: Column | None = None) -> Column:
    """A rank method as an expression of a row's tie struct; ``first``
    is the row's 1-based position within its (keys, value) tie."""
    off = ties["off"]
    if method == "min":
        r = off + 1
    elif method == "max":
        r = off + ties["cnt"]
    elif method == "average":
        r = off + (ties["cnt"] + 1) / 2.0
    elif method == "dense":
        r = ties["dense"]
    else:  # first
        r = off + first
    r = r.cast("double")
    if pct:
        r = r / ties["nd" if method == "dense" else "tot"].cast("double")
    return r


def first_in_tie(keys: list[str], value: str) -> Column:
    return F.row_number().over(
        W.partitionBy(*keys, value).orderBy(F.col(I.ORDER_COL)))


def tie_column(frame, keys: list[str], value: str, ascending: bool = True,
               na_option: str = "keep") -> Column:
    """The anchor frame's tie struct for (keys, value, ascending,
    na_option), joined into ``frame`` in place (``Frame._augment``) on
    first use and reused while the frame still carries it with the
    same resolved key/value attributes. A frame's rows never change in
    place, so a memo on the frame object stays sound; copies start
    empty."""
    sdf = frame._sdf
    sig = (tuple(sdf._jdf.resolve(c).toString() for c in (*keys, value)),
           ascending, na_option)
    memo = frame.__dict__.setdefault("_ties", {})
    name = memo.get(sig)
    if name is not None and name in sdf.columns:
        return F.col(name)
    names = []

    def kernel(base, tmp):
        names.append(tmp)
        table = tie_table(base, keys, value, tmp, ascending, na_option)
        return join_ties(base, table, keys, value, tmp)

    col = frame._augment(kernel)
    memo[sig] = names[0]
    return col


def grouped_rank(frame, keys: list[str], value: str, method: str = "average",
                 ascending: bool = True, pct: bool = False,
                 na_option: str = "keep") -> Column:
    """``frame.groupby(keys)[value].rank(...)`` as a Column of ``frame``
    (null keys NOT masked — the caller's dropna rule does that)."""
    check_args(method, na_option)
    ties = tie_column(frame, keys, value, ascending, na_option)
    first = None
    if method == "first":
        first = frame._augment(lambda sdf, tmp: sdf.withColumn(
            tmp, first_in_tie(keys, value)))
    return rank_from_ties(ties, method, pct, first)
