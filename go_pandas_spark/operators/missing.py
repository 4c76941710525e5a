"""Missing-data operators: fillna / ffill / bfill / interpolate / replace.

Reference parity: ``generic.py:5606 fillna``, pad/backfill kernels
``pandas/_libs/algos.pyx:400,598``, ``generic.py:6438 interpolate`` →
``core/missing.py:111``, ``generic.py:6098 replace``.

Mapping (SURVEY §2.9 "Missing-data"): ffill = ``last(col,
ignorenulls=True)`` over an unbounded-preceding window; bfill
mirrored; ``limit`` = a count-since-last-valid guard expression;
linear interpolation = prev/next value + position algebra over two
windows. All JVM-side expressions — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, Window as W, functions as F

from .. import _internal as I

# Max rows for the ungrouped scipy-interpolate path: the whole frame is
# fitted by one curve in one task, so it's driver-bounded by design
# (same contract as Frame.transpose_small).
_SCIPY_GLOBAL_MAX_ROWS = 5_000_000


def _fill_exprs(c: str, method: str, limit: int | None, partition_by: list[str]):
    part = partition_by or []
    if method in ("ffill", "pad"):
        w = W.partitionBy(*part).orderBy(I.ORDER_COL).rowsBetween(W.unboundedPreceding, W.currentRow)
        rn_w = W.partitionBy(*part).orderBy(I.ORDER_COL)
        pick = lambda col: F.last(col, ignorenulls=True).over(w)  # noqa: E731
    elif method in ("bfill", "backfill"):
        w = W.partitionBy(*part).orderBy(I.ORDER_COL).rowsBetween(W.currentRow, W.unboundedFollowing)
        rn_w = W.partitionBy(*part).orderBy(F.col(I.ORDER_COL).desc())
        pick = lambda col: F.first(col, ignorenulls=True).over(w)  # noqa: E731
    else:
        raise ValueError(method)
    filled = pick(F.col(c))
    if limit is not None:
        rn = F.row_number().over(rn_w)
        last_valid_rn = pick(F.when(F.col(c).isNotNull(), rn))
        gap = rn - last_valid_rn
        filled = F.when(F.col(c).isNotNull() | (gap <= limit), filled)
    return filled


def fillna(frame, value=None, method: str | None = None, subset=None, limit: int | None = None,
           partition_by: list[str] | None = None):
    from ..frame import Frame

    # label subset → physical columns (dup labels fill every occurrence)
    cols = frame._resolve_subset(
        [subset] if isinstance(subset, str) else subset)
    sdf = frame._sdf
    if method is not None:
        part = partition_by or []
        if not part:
            # ungrouped fill: block-partitioned running pick with a
            # cross-block carry instead of one global window
            # (operators/distwindow.py — the 100 TB path). With
            # ``limit`` the gap check needs a global row number and the
            # row number of the picked observation — a blocked running
            # count plus a second picked marker column, still never one
            # task (pre-r7 this variant kept the single-window plan).
            from .distwindow import (_pin_if_order, collect_sid_layout,
                                     consume_chained, dense_row_number,
                                     mark_blocked_output,
                                     running_pick_blocked)

            # frozen once: the stats job and every later pass read it
            sdf = _pin_if_order(consume_chained(frame), F.col(I.ORDER_COL))
            back = method in ("ffill", "pad")
            picked = list(cols)
            temps: list[str] = []
            # ONE layout stats job shared by the row-number and block
            # kernels (r13 — they ran the identical groupBy(sid) twice);
            # None → known non-contiguous, both take their fallbacks
            stats = (collect_sid_layout(sdf, F.col(I.ORDER_COL))[0]
                     if limit is not None else None)
            if limit is not None:
                # global dense row number: pure partition metadata on
                # the monotonic-id fast path (r13) — no blocked
                # running-count pass
                sdf = dense_row_number(sdf, F.col(I.ORDER_COL), "__grn__",
                                       sid_stats=stats if stats is not None
                                       else False)
                sdf = sdf.withColumns(
                    {f"__mk_{c}": F.when(F.col(c).isNotNull(), F.col("__grn__"))
                     for c in cols})
                picked += [f"__mk_{c}" for c in cols]
                temps = ["__grn__"] + [f"__mk_{c}" for c in cols]
            sdf = running_pick_blocked(sdf, [F.col(I.ORDER_COL).asc()],
                                       picked, back=back, prefix="__f_",
                                       block_key=F.col(I.ORDER_COL),
                                       carry_order=F.col(I.ORDER_COL),
                                       sid_stats=(stats if stats is not None
                                                  else (False if limit is not None
                                                        else None)))
            temps += [f"__f_{p}" for p in picked]
            for c in cols:
                filled = F.col(f"__f_{c}")
                if limit is not None:
                    gap = (F.col("__grn__") - F.col(f"__f___mk_{c}") if back
                           else F.col(f"__f___mk_{c}") - F.col("__grn__"))
                    filled = F.when(F.col(c).isNotNull() | (gap <= limit), filled)
                sdf = sdf.withColumn(c, filled)
            return mark_blocked_output(frame._copy(sdf.drop(*temps)))
        for c in cols:
            sdf = sdf.withColumn(c, _fill_exprs(c, method, limit, part))
    elif isinstance(value, dict):
        for lab, v in value.items():
            for c in (frame._phys_for_label(lab) or [lab]):
                sdf = sdf.withColumn(c, F.coalesce(F.col(c), F.lit(v)))
    else:
        from ..functions.dtypes import is_numeric

        dtypes = frame.dtypes
        numeric_value = isinstance(value, (int, float)) and not isinstance(value, bool)
        for c in cols:
            # only fill type-compatible columns (pandas casts; we skip)
            if numeric_value and not is_numeric(dtypes[c]):
                continue
            if isinstance(value, str) and dtypes[c] != "string":
                continue
            sdf = sdf.withColumn(c, F.coalesce(F.col(c), F.lit(value)))
    return frame._copy(sdf)


def interpolate(frame, method: str = "linear", subset=None, partition_by: list[str] | None = None,
                on: str | None = None, limit: int | None = None,
                limit_direction: str | None = None, limit_area: str | None = None):
    """Interpolation between valid observations; trailing NaNs clamp to
    the last valid value, leading NaNs stay (np.interp / pandas default
    semantics). Methods (``interpolate_1d``, ``core/missing.py:111``):

    - ``linear``: positional spacing (pandas default ignores the index)
    - ``time``: weighted by the timestamp column ``on``
    - ``index`` / ``values``: weighted by a numeric column ``on`` (or the
      frame's index column)
    - ``nearest``: takes the closer neighbor; ties go to the previous
      value (scipy ``interp1d(kind='nearest')`` half-down convention)

    ``limit`` caps how many consecutive NaNs from a valid observation
    get filled; ``limit_direction`` ('forward' default / 'backward' /
    'both', reference ``generic.py:6438``) picks which side the cap
    counts from AND which edge NaNs clamp-fill (backward/both fill
    leading NaNs with the first valid value); ``limit_area``
    ('inside' = only NaNs between valid values, 'outside' = only edge
    NaNs) further restricts the fillable set. These four methods are
    pure window expressions — no UDF, one sort per ``partition_by``
    spec at any scale. The scipy family (spline/pchip/polynomial/…)
    routes through ``_interpolate_scipy`` — Arrow-batched real-pandas
    per key partition (needs scipy on the executors)."""
    from ..frame import Frame
    from ..functions.dtypes import is_numeric

    if method == "values":
        method = "index"
    if limit_direction is None:
        limit_direction = "forward"
    if limit_direction not in ("forward", "backward", "both"):
        raise ValueError(f"interpolate: limit_direction={limit_direction!r}")
    if limit_area not in (None, "inside", "outside"):
        raise ValueError(f"interpolate: limit_area={limit_area!r}")
    if method in ("spline", "pchip", "polynomial", "akima", "cubicspline",
                  "quadratic", "cubic", "krogh", "piecewise_polynomial"):
        # scipy family (core/missing.py:224): ride real pandas
        # interpolate inside an Arrow-batched map over key-partitioned
        # data — scale model identical to grouped EWM. Needs scipy at
        # the executors; raises its ImportError cleanly when absent.
        return _interpolate_scipy(frame, method, subset, partition_by, limit)
    if method not in ("linear", "time", "index", "nearest"):
        raise NotImplementedError(f"interpolate method={method!r}")
    if method == "time" and on is None:
        raise ValueError("interpolate(method='time') needs on=<timestamp column>")
    if method == "index" and on is None:
        if not frame._index_names:
            raise ValueError("interpolate(method='index') needs on= or an index column")
        on = frame._index_names[0]
    part = partition_by or []
    dtypes = frame.dtypes
    cols = subset or [c for c in frame.columns if is_numeric(dtypes[c])]
    cols = [cols] if isinstance(cols, str) else list(cols)
    sdf = frame._sdf
    if method == "time":
        pos = F.unix_micros(F.col(on).cast("timestamp")).cast("double")
    elif method == "index":
        pos = F.col(on).cast("double")
    else:  # linear / nearest: positional
        pos = None
    if part:
        wp = W.partitionBy(*part).orderBy(I.ORDER_COL).rowsBetween(W.unboundedPreceding, W.currentRow)
        wf = W.partitionBy(*part).orderBy(I.ORDER_COL).rowsBetween(W.currentRow, W.unboundedFollowing)
        if pos is None:
            pos = F.row_number().over(W.partitionBy(*part).orderBy(I.ORDER_COL)).cast("double")
        sdf = sdf.withColumn("__rn__", pos)
        if limit is not None:
            # consecutive-NaN cap counts rows, not pos units
            ri = F.row_number().over(W.partitionBy(*part).orderBy(I.ORDER_COL))
            sdf = sdf.withColumn("__ri__", ri)

        def _picks(c):
            col = F.col(c)
            d = {"prev_v": F.last(col, ignorenulls=True).over(wp),
                 "prev_p": F.last(F.when(col.isNotNull(), F.col("__rn__")),
                                  ignorenulls=True).over(wp),
                 "next_v": F.first(col, ignorenulls=True).over(wf),
                 "next_p": F.first(F.when(col.isNotNull(), F.col("__rn__")),
                                   ignorenulls=True).over(wf)}
            if limit is not None:
                d["prev_ri"] = F.last(F.when(col.isNotNull(), F.col("__ri__")),
                                      ignorenulls=True).over(wp)
                d["next_ri"] = F.first(F.when(col.isNotNull(), F.col("__ri__")),
                                       ignorenulls=True).over(wf)
            return d

        pos_col, ri_col = "__rn__", "__ri__"
        temps = ["__rn__"] + (["__ri__"] if limit is not None else [])
    else:
        # ungrouped whole-frame interpolate was a single global-window
        # task pre-r7: the prev/next value+position picks are exactly
        # the blocked running-pick kernel, the dense row number is a
        # blocked running count — never one task
        from .distwindow import (_pin_if_order, collect_sid_layout,
                                 consume_chained, dense_row_number,
                                 mark_blocked_output, running_pick_blocked)

        # NOTE: __rn__/__cnt__ are running_pick_blocked's internal
        # temps (it drops them) — use distinct names here
        pos_col, ri_col = "__ipos__", "__iri__"
        # ONE layout stats job shared by the row-number and block
        # kernels (r13 — they ran the identical groupBy(sid) twice)
        base0 = _pin_if_order(consume_chained(frame), F.col(I.ORDER_COL))
        stats = collect_sid_layout(base0, F.col(I.ORDER_COL))[0]
        # global dense row number: pure partition metadata on the
        # monotonic-id fast path (r13) — no blocked running-count pass
        sdf = dense_row_number(base0, F.col(I.ORDER_COL), ri_col,
                               sid_stats=stats if stats is not None
                               else False)
        sdf = sdf.withColumn(
            pos_col, pos if pos is not None else F.col(ri_col).cast("double"))
        markers: list[str] = []
        mk_exprs: dict = {}
        for c in cols:
            col = F.col(c)
            mk_exprs[f"__mp_{c}"] = F.when(col.isNotNull(), F.col(pos_col))
            markers.append(f"__mp_{c}")
            if limit is not None:
                mk_exprs[f"__mi_{c}"] = F.when(col.isNotNull(), F.col(ri_col))
                markers.append(f"__mi_{c}")
        sdf = sdf.withColumns(mk_exprs)
        picked = list(cols) + markers
        # BOTH directions in ONE pick pass (r9): the forward pick is a
        # first-non-null over the same ascending sort, so interpolate
        # pays one exchange+window instead of two chained passes
        sdf = running_pick_blocked(sdf, [F.col(I.ORDER_COL).asc()],
                                   block_key=F.col(I.ORDER_COL),
                                   picks=[(picked, True, "__pb_"),
                                          (picked, False, "__pf_")],
                                   carry_order=F.col(I.ORDER_COL),
                                   sid_stats=stats if stats is not None
                                   else False)

        def _picks(c):
            d = {"prev_v": F.col(f"__pb_{c}"),
                 "prev_p": F.col(f"__pb___mp_{c}"),
                 "next_v": F.col(f"__pf_{c}"),
                 "next_p": F.col(f"__pf___mp_{c}")}
            if limit is not None:
                d["prev_ri"] = F.col(f"__pb___mi_{c}")
                d["next_ri"] = F.col(f"__pf___mi_{c}")
            return d

        temps = ([pos_col, ri_col] + markers
                 + [f"__pb_{p}" for p in picked] + [f"__pf_{p}" for p in picked])
    fill_exprs: dict = {}
    for c in cols:
        col = F.col(c)
        pk = _picks(c)
        prev_v, prev_p = pk["prev_v"], pk["prev_p"]
        next_v, next_p = pk["next_v"], pk["next_p"]
        if method == "nearest":
            interp = F.when(
                (F.col(pos_col) - prev_p) <= (next_p - F.col(pos_col)), prev_v
            ).otherwise(next_v)
        else:
            frac = (F.col(pos_col) - prev_p).cast("double") / (next_p - prev_p).cast("double")
            interp = prev_v + (next_v - prev_v) * frac
        interior = prev_v.isNotNull() & next_v.isNotNull()
        # value a fillable NaN receives: interpolation between valid
        # neighbors, else the edge clamp (pandas interpolate_1d applies
        # np.interp clamping to whichever edge NaNs survive the
        # direction/area preserve-set)
        fill_val = (F.when(interior, interp)
                    .when(prev_v.isNotNull(), prev_v)
                    .otherwise(next_v))
        # preserve-set complement (core/missing.py:_interp_limit):
        # forward never fills leading NaNs, backward never fills
        # trailing; area gates interior vs edge
        if limit_direction == "forward":
            allow = prev_v.isNotNull()
        elif limit_direction == "backward":
            allow = next_v.isNotNull()
        else:
            allow = prev_v.isNotNull() | next_v.isNotNull()
        if limit_area == "inside":
            allow = allow & interior
        elif limit_area == "outside":
            allow = allow & ~interior
        if limit is not None:
            prev_ri, next_ri = pk["prev_ri"], pk["next_ri"]
            fwd_ok = F.coalesce((F.col(ri_col) - prev_ri) <= limit, F.lit(False))
            bwd_ok = F.coalesce((next_ri - F.col(ri_col)) <= limit, F.lit(False))
            lim_ok = (fwd_ok if limit_direction == "forward"
                      else bwd_ok if limit_direction == "backward"
                      else fwd_ok | bwd_ok)
            allow = allow & lim_ok
        fill_exprs[c] = F.when(col.isNotNull(), col).when(allow, fill_val)
    sdf = sdf.withColumns(fill_exprs)
    out = Frame(sdf.drop(*temps), frame._index_names)
    if not part:
        from .distwindow import mark_blocked_output

        out = mark_blocked_output(out)
    return out


def replace(frame, to_replace, value=None, subset=None, regex: bool = False):
    """``generic.py:6098`` — when-chains / regexp_replace (JVM-side)."""
    from ..frame import Frame

    cols = subset or frame.columns
    cols = [cols] if isinstance(cols, str) else list(cols)
    mapping = to_replace if isinstance(to_replace, dict) else {to_replace: value}
    dtypes = frame.dtypes
    sdf = frame._sdf
    for c in cols:
        col = F.col(c)
        if regex:
            expr = col
            for pat, rep in mapping.items():
                expr = F.regexp_replace(expr, pat, rep)
            sdf = sdf.withColumn(c, expr)
        else:
            expr = col
            for old, new in mapping.items():
                if isinstance(old, str) and dtypes[c] != "string":
                    continue
                if isinstance(old, (int, float)) and not isinstance(old, bool) and dtypes[c] == "string":
                    continue
                expr = F.when(col == F.lit(old), F.lit(new)).otherwise(expr)
            sdf = sdf.withColumn(c, expr)
    return Frame(sdf, frame._index_names)


def _interpolate_scipy(frame, method: str, subset, partition_by, limit,
                       order: int | None = None):
    """scipy-backed interpolation (``core/missing.py:224`` dispatch
    table) via ``mapInPandas``: one pandas frame per key partition,
    groups interpolated in C by real pandas. The engine never
    reimplements the spline math — it ships the rows to it, Arrow both
    ways. ImportError surfaces unchanged when scipy is absent."""
    import pandas as pd  # noqa: F401

    from .. import _internal as I
    from ..frame import Frame
    from ..functions.dtypes import is_numeric

    part = list(partition_by or [])
    dtypes = frame.dtypes
    cols = subset or [c for c in frame.columns if is_numeric(dtypes[c])]
    cols = [cols] if isinstance(cols, str) else list(cols)
    sdf = frame._sdf
    spark = sdf.sparkSession
    if part:
        n_part = spark.sparkContext.defaultParallelism
        sdf = sdf.repartition(n_part, *part).sortWithinPartitions(*part, I.ORDER_COL)
    else:
        # A global spline/pchip fit is sequential by definition — ONE
        # task must see every row. That is driver-bounded work (like
        # transpose_small), so refuse beyond a size guard instead of
        # silently hanging an executor at scale. linear/time/index/
        # nearest interpolate are windowed and fully distributed —
        # unaffected by this bound.
        n = sdf.count()
        if n > _SCIPY_GLOBAL_MAX_ROWS:
            raise ValueError(
                f"interpolate(method={method!r}) without partition_by fits one "
                f"global curve in a single task; refusing {n} rows > "
                f"{_SCIPY_GLOBAL_MAX_ROWS}. Pass partition_by= to fit per key "
                f"(distributed), or use method='linear'/'time'/'index'/'nearest' "
                f"(pure window expressions at any scale).")
        sdf = sdf.coalesce(1).sortWithinPartitions(I.ORDER_COL)
    schema = sdf.schema
    kw = {"method": method, "limit": limit}
    if order is not None:
        kw["order"] = order

    def run(batches):
        # Interpolation is order-dependent across the whole partition, so
        # concatenate ALL Arrow batches first — correctness must not hinge
        # on the session's maxRecordsPerBatch conf (any other op may have
        # changed it by execution time).
        chunks = [b for b in batches]
        if not chunks:
            return
        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            yield pdf
            return
        if part:
            res = pdf.groupby(part, sort=False, group_keys=False)[cols].apply(
                lambda g: g.interpolate(**kw))
        else:
            res = pdf[cols].interpolate(**kw)
        for c in cols:
            pdf[c] = res[c]
        yield pdf

    return Frame(sdf.mapInPandas(run, schema=schema), frame._index_names)
