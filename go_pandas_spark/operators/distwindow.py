"""Distributed ungrouped windows: block partition + boundary overlap.

The reference's moving-window kernels (``pandas/_libs/window.pyx:447``
roll_sum … :1229) are sequential single-node passes. A Spark window
with an empty ``partitionBy`` reproduces them faithfully — and
executes on ONE task, which is the classic 100 TB scale-killer.

This module is the scale path. Block membership is a PURE FUNCTION of
the order key against split facts computed once and driver-collected
(≤P scalars) — deliberately NOT ``spark_partition_id`` over
``repartitionByRange``, whose boundaries re-sample per column-pruned
re-execution of the exchange and silently break cross-block
consistency. The build pass makes these operators eager-ish (one
small aggregation job at plan-build time); that is the price of
determinism. Every driver-built table a kernel ships into its plan —
block ids, positions, split bounds, carries, offsets, borrow tables —
attaches through ONE primitive, ``_attach_table``, with ONE size rule
(``_ATTACH_LIT_SLOTS`` array slots × columns): a small table folds into
the plan as literal arrays (no BroadcastExchange stage in the action),
a larger one rides a broadcast join whose plan size is O(1) in the
block count. A monotonic order id maps to blocks by one sid-keyed
lookup (``_attach_sid``); value-derived keys binary-search ONE bounds
array (``_attach_block``); carries are ≤P-row tables DRIVER-COLLECTED
at build time (r9 — lazy carry subtrees re-executed the upstream chain
once per statistic inside the main action). Broadcast tables are
memoized by content (``_memo_table``) so rebuilt plans canonicalize
equal and the ``I.materialize`` registry hits across runs.
Series order ops (shift/diff/cum*/rank/rolling/expanding) and row
positions run on these same kernels: the result lands as an internal
column of the Series' anchor frame (``Frame._augment``), so there is
one engine per op at every parallelism. Then:

- **rolling** (bounded frame, ``rowsBetween(lo, hi)`` or µs
  ``rangeBetween``): boundary rows reach every block whose windows
  need them, read off the P-row block table (exact under any
  block-size skew), the SAME window expression evaluates per block,
  borrowed rows are dropped. Any aggregate works.
- **expanding / cum* / rank**: per-block partials + a P-row prefix
  carry/offset table attached back. Decomposable aggregates only
  (sum/count/min/max and what derives from running sums: mean,
  var/std via ΣX/ΣX², prod via log+sign; rank/dense-rank offsets).
- **running picks** (no-``by`` as-of join, global ffill): block-local
  last/first-non-null + cross-block carry.
- **shift**: borrow ``k`` boundary rows, ``lag``/``lead`` per block.

Every step is a deterministic DataFrame op: one hash exchange on the
block id (the window's own), per-block sorts, and a P-row table
attach. No driver-side data beyond the split points and the carry table.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame as SparkDataFrame, Window as W, functions as F

from .. import _internal as I

BLK = "__blk__"
BORROW = "__borrow__"


def _is_order_id(order_col: Column) -> bool:
    return str(order_col) == f"Column<'{I.ORDER_COL}'>"


def first_valid_refs(sdf: SparkDataFrame, cols: list[str],
                     order_by: Column | None = None) -> dict[str, float]:
    """Per-column centering reference for the power-sum moment
    engines. var/std/sem/skew/kurt/cov/corr are all shift-invariant,
    so ANY finite in-data constant is exact algebra — centering near
    the data is what kills the |mean| ≫ std catastrophic cancellation
    of raw power sums. The reference is therefore taken from ONE
    CollectLimit sample (a single-task job, not a full scan; measured:
    the full min_by scan cost ~1 s per call on chained blocked plans,
    ~4 s on expanding_moments_global); a full min_by-by-order scan
    runs only for columns whose sample held no valid value. The
    center choice perturbs results only at the ~1e-15 relative level,
    far inside the 1e-6 oracle rounding.

    The sample is DETERMINISTIC (TakeOrdered on the engine order id
    when present, not a bare CollectLimit): the refs land in plans as
    literals, and an order-dependent sample made re-built plans hash
    differently run-over-run — every materialize lookup then MISSED and
    stored one more copy per kernel per run (r9; measured +6
    persisted RDDs per warm re-run of the moments chain). Callers
    whose sdf may lack ORDER_COL should pass their own ``order_by``
    (the blocked expanding-moments engine passes its order key,
    covering caller-supplied epoch layouts); the window.py callers
    operate on Frame sdfs, which always carry the engine id. The
    anchor requirement is ASSERTED (r12, VERDICT r11 #2): an
    unanchored sample keeps results exact (shift-invariance) but
    makes re-built plans hash differently run-over-run, storing one
    more leaf per kernel per run — the contract is self-enforcing,
    not docstring-enforced."""
    import math

    cols = list(dict.fromkeys(cols))  # cov(x, x) passes a duplicate
    anchor = (F.col(I.ORDER_COL) if I.ORDER_COL in sdf.columns
              else order_by)
    if anchor is None:
        # hard raise, not assert: python -O strips asserts and the
        # unanchored path would silently store one leaf per kernel per
        # run (non-deterministic plan hashes) — ADVICE r12 #5
        raise RuntimeError(
            "first_valid_refs: deterministic-sample contract — the input "
            "must carry the engine ORDER_COL or the caller must pass "
            "order_by=")
    sample = sdf.select(*[F.col(c).cast("double").alias(c) for c in cols]
                        + ([anchor.alias("__fvr_anchor__")]
                           if anchor is not None else []))
    if anchor is not None:
        sample = sample.orderBy("__fvr_anchor__")
    rows = sample.limit(1024).collect()
    out: dict[str, float] = {}
    missing: list[str] = []
    for c in cols:
        v = next((r[c] for r in rows
                  if r[c] is not None and math.isfinite(r[c])), None)
        if v is None:
            missing.append(c)
        else:
            out[c] = float(v)
    if missing:
        aggs = []
        for c in missing:
            x = F.col(c).cast("double")
            valid = x.isNotNull() & ~F.isnan(x)
            aggs.append(F.min_by(x, F.when(valid, anchor)).alias(c))
        row = sdf.select(*aggs).first()
        for c in missing:
            v = row[c]
            out[c] = float(v) if v is not None and math.isfinite(v) else 0.0
    return out


def _fold_sum(a, v):
    return v if a is None else a + v


def _fold_min(a, v):
    """Spark min semantics: NaN orders ABOVE every value, so min skips
    NaN unless nothing else exists."""
    import math

    if a is None:
        return v
    if isinstance(v, float) and math.isnan(v):
        return a
    if isinstance(a, float) and math.isnan(a):
        return v
    return a if a <= v else v


def _fold_max(a, v):
    """Spark max semantics: NaN orders ABOVE every value, so max
    returns NaN once any NaN entered."""
    import math

    if a is None:
        return v
    if isinstance(v, float) and math.isnan(v):
        return v
    if isinstance(a, float) and math.isnan(a):
        return a
    return a if a >= v else v


_FOLDS = {"sum": _fold_sum, "min": _fold_min, "max": _fold_max}


def _wrap_i64(v):
    """Two's-complement int64 wrap — the JVM long-addition (and numpy
    int64 cumsum) overflow contract, applied to driver-folded integer
    carries before they become int64 literals."""
    return int((v + (1 << 63)) % (1 << 64) - (1 << 63))


_LOCAL_TBLS: "OrderedDict" = __import__("collections").OrderedDict()
# LRU bound: entries are ≤P rows each (P ≤ 4096); 256 distinct table
# contents ≈ a worst case of ~100 MB driver heap. Evicting an entry
# only costs a downstream materialize miss if the SAME content is
# rebuilt later (one extra leaf) — correctness is unaffected.
_LOCAL_TBLS_MAX = 256


# singleton key sentinels: hash-stable across calls, and — unlike
# string/tuple markers — impossible to collide with genuine row data
_NAN_KEY = object()
_NEGZERO_KEY = object()


def _deep_tuple(v):
    """Hashable canonical key fragment. NaN is canonicalized to a
    sentinel so NaN-bearing carry tables HIT the memo (NaN != NaN in
    tuple equality would otherwise miss every run and regrow both this
    dict and the downstream pin registry); -0.0 is canonicalized to a
    DISTINCT sentinel because Python hashes/compares it equal to 0.0,
    and a -0.0 carry must not alias a +0.0 table (division-sign
    semantics, _internal.true_div_col)."""
    if isinstance(v, (list, tuple)):
        return tuple(_deep_tuple(x) for x in v)
    if isinstance(v, float):
        import math

        if math.isnan(v):
            return _NAN_KEY
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return _NEGZERO_KEY
    return v


def _arrow_value(v, dt):
    """``v`` as pyarrow builds it for Spark type ``dt``: a naive
    timestamp is the process-local time PySpark's ``collect`` returns,
    so it becomes an aware instant; structs become dicts."""
    from datetime import timezone

    from pyspark.sql.types import ArrayType, StructType, TimestampType

    if v is None:
        return None
    if isinstance(dt, TimestampType) and v.tzinfo is None:
        return v.astimezone(timezone.utc)
    if isinstance(dt, StructType):
        return {f.name: _arrow_value(x, f.dataType)
                for f, x in zip(dt.fields, v)}
    if isinstance(dt, ArrayType):
        return [_arrow_value(x, dt.elementType) for x in v]
    return v


def _local_table(spark, rows, schema) -> SparkDataFrame:
    """A driver-built table as a JVM ``LocalRelation``: the rows ship
    as one Arrow batch (NaN, -0.0, NULL and int64 values kept exact), so
    a broadcast of it reads a ``LocalTableScan``. A Python-list
    ``createDataFrame`` is a Python RDD instead, and every action that
    broadcast it ran a Python-worker job. A type pyarrow cannot build
    from Python values falls back to that RDD."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    try:
        tbl = pa.table({f.name: pa.array([_arrow_value(r[i], f.dataType)
                                          for r in rows],
                                         type=to_arrow_type(f.dataType))
                        for i, f in enumerate(schema.fields)})
    except (pa.ArrowException, TypeError, ValueError):
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(tbl, schema)


def _memo_table(spark, rows, schema) -> SparkDataFrame:
    """``_local_table`` for tiny driver-built tables (block ids, split
    bounds, carries), memoized by CONTENT. Equal content then yields
    the same DataFrame object, so rebuilt plans canonicalize equal and
    the plan-keyed ``I.materialize`` lookups hit (r9: RDD-backed
    tables canonicalized by RDD identity and stored one more copy per
    kernel per run), and a hit skips the Arrow round trip. Entries
    are ≤P rows each; the dict is a size-capped LRU
    (``_LOCAL_TBLS_MAX``) with NaN/-0.0 canonicalized keys (see
    ``_deep_tuple``), cleared wholesale by ``_internal.clear_cache``."""
    try:
        key = (schema if isinstance(schema, str) else schema.simpleString(),
               _deep_tuple([tuple(r) for r in rows]))
        hash(key)
    except TypeError:
        return _local_table(spark, rows, schema)
    df = _LOCAL_TBLS.get(key)
    if df is None or df.sparkSession is not spark:
        df = _local_table(spark, rows, schema)
        _LOCAL_TBLS[key] = df
    _LOCAL_TBLS.move_to_end(key)
    while len(_LOCAL_TBLS) > _LOCAL_TBLS_MAX:
        _LOCAL_TBLS.popitem(last=False)
    return df


def mark_blocked_output(frame):
    """Tag a Frame produced by a blocked kernel so a FURTHER blocked
    kernel consuming it knows the input plan already contains window/
    join machinery worth materializing (see consume_chained)."""
    frame._blocked_out = True
    return frame


def consume_chained(frame) -> SparkDataFrame:
    """Entry hook for blocked kernels reading a Frame: when the input
    is itself a blocked kernel's output (tagged by
    mark_blocked_output), materialize it ONCE (``I.materialize``).
    Each blocked call runs 2-3 small build jobs (centering refs, block
    stats, carry totals) plus the main pass over its input; without
    the cut, K chained calls re-execute the upstream window/join
    machinery per job — the r8 flagship chain (4 expanding-moment
    calls) doubled warm anchor-adjusted (r8 VERDICT "What's wrong"
    #1). After it every later job scans stored rows, and the chain's
    plan stays one leaf deep. Single un-chained blocked calls are
    untouched: the tag is only set by blocked kernels, never by
    reads/projections.

    The leaf stores the frame's FULL width deliberately: every blocked
    kernel's output passes non-value columns through in place, so the
    main pass reads the full width anyway — a width-pruned leaf would
    force the main pass to re-execute the upstream machinery at full
    width once more, trading one stored copy for a doubled compute
    pass (measured; SCALE.md "Checkpoint width adjudication")."""
    if getattr(frame, "_blocked_out", False):
        frame._sdf = I.materialize(frame._sdf)
        frame._blocked_out = False
    return frame._sdf


def _pin_if_order(sdf: SparkDataFrame, order_col: Column) -> SparkDataFrame:
    """Kernels below collect order-derived literals in build jobs and
    apply them in the caller's later main job; when the order key is
    the engine's synthetic id the relation must be materialized first
    (``I.materialize``) or AQE can hand the two jobs different id
    layouts — unless its ids are already read from a materialized
    relation (``I.ids_frozen``: a leaf plus projections, a Series op
    over an augmented anchor). Every later job must read the RETURNED
    relation. Data-derived order keys (timestamps, values) are
    plan-independent and skip it."""
    if _is_order_id(order_col) and not I.ids_frozen(sdf):
        return I.materialize(sdf)
    return sdf


def _n_blocks(sdf: SparkDataFrame) -> int:
    """Target block count: defaultParallelism, capped at 4096. Every
    kernel attaches its block metadata through ``_attach_table``, whose
    plan size is O(1) in the block count above the literal rule, so a
    1000-executor cluster fans out to its true core count instead of
    idling at the r7-era 256-task ceiling."""
    return min(sdf.sparkSession.sparkContext.defaultParallelism, 4096)


def _split_bounds(sdf: SparkDataFrame, key: Column, n: int,
                  with_count: bool = False):
    """n-1 split points of the (numeric) key — one percentile_approx
    aggregation, result collected as ≤ n-1 scalars. Driver-collected
    bounds are the determinism contract: every reference to the block
    id evaluates the same constants, so block membership never depends
    on exchange reuse or re-sampled range boundaries
    (spark_partition_id after repartitionByRange is NOT stable across
    column-pruned re-executions of the exchange — measured: silently
    wrong cross-block carries). percentile_approx requires a FOLDABLE
    percentage array — a literal-built array in the one-time build
    job (HOF-generated sequences are rejected as non-foldable).
    ``with_count=True`` additionally returns the total row count —
    one extra aggregate expression in the SAME job, so cost-based
    callers (running_pick's carry strategy) pay no extra pass."""
    probs = _lit_array((i / n for i in range(1, n)), "double")
    acc = max(10_000, 4 * n)  # rank error ≪ one block at any n
    cols = [F.percentile_approx(key, probs, F.lit(acc)).alias("b")]
    if with_count:
        cols.append(F.count(F.lit(1)).alias("n"))
    row = sdf.select(*cols).first()
    bs = [b for b in (row["b"] or []) if b is not None]
    out: list = []
    for b in bs:
        if not out or b != out[-1]:
            out.append(b)
    return (out, int(row["n"])) if with_count else out


# dtypes ``_lit_array`` spells exactly. Not binary: a packed vector
# (the approx-quantile prefix counts) is n_grid values in one slot, so
# it always rides the join.
_LIT_DTS = ("bigint", "int", "double", "float")


def _lit_array(vals, dt: str) -> Column:
    """Foldable array<dt> literal in ONE py4j call — the per-element
    ``F.array(*[F.lit(v) ...])`` form costs one JVM round-trip per
    element, measured 0.66 s of pure driver time for a 1024-point
    percentile grid vs 9 ms for the parsed form (r13). Numeric dtypes
    only (``_LIT_DTS``), with NULL/NaN/±Infinity spelled
    so the parse round-trips exactly (repr emits the shortest exact
    decimal for doubles; NaN/Infinity go through a string cast, which
    Spark parses to the IEEE values; the final array cast restores the
    exact dtype)."""
    import math

    parts = []
    int_dt = dt not in ("double", "float")
    for v in vals:
        if v is None:
            parts.append("NULL")
        elif not int_dt or isinstance(v, float):
            f = float(v)
            if int_dt and (not math.isfinite(f) or int(f) != f):
                # integer dt: refuse lossy values LOUDLY (ADVICE r13) —
                # a non-integral/NaN float would otherwise truncate (or
                # NULL) silently through the final array cast if a
                # future caller's dtype guard ever drifts
                raise ValueError(
                    f"_lit_array: non-integral value {v!r} for "
                    f"integer dtype {dt!r}")
            if math.isnan(f):
                parts.append("'NaN'")
            elif math.isinf(f):
                parts.append("'Infinity'" if f > 0 else "'-Infinity'")
            elif int_dt:
                parts.append(str(int(f)) + "L")
            else:
                parts.append(repr(f) + "D")
        else:
            parts.append(str(int(v)) + "L")
    return F.expr("array(" + ",".join(parts) + ")").cast(f"array<{dt}>")


# The one literal-vs-broadcast rule for driver-built tables, counted in
# array slots × columns. At or below it a table folds into the plan as
# literal arrays; above it the table rides a broadcast join, whose plan
# size is O(1) in the table. The forced-n_blocks sweep (SCALE.md "One
# table-attach rule") measured the two forms per kernel call up to 512
# blocks × 3 columns: a Python-RDD broadcast was 1.4-2.6x slower, the
# LocalRelation broadcast (``_local_table``) is within noise of the
# literals. So the rule is the plan-size budget alone: the largest
# power of two that keeps a 1024-block table (1023 split bounds, one
# column) broadcast.
_ATTACH_LIT_SLOTS = 512


def _attach_table(sdf: SparkDataFrame, key: Column | None, cols: dict,
                  slots: list | None = None) -> SparkDataFrame:
    """Attach a driver-built table to ``sdf`` — the one way a kernel
    ships block ids, positions, bounds, carries, offsets and borrow
    tables into its plan.

    ``cols`` maps each new column to ``(values, dtype)``; dtype is a
    Spark type or its simpleString. With a ``key`` column, a row gets
    ``values[i]`` where ``slots[i]`` (default ``i``) equals its key, and
    NULL when no slot does; ``slots`` are int indexes, or tuples for a
    struct key (group keys, matched null-safely). With ``key=None``
    every row gets each column's whole list as one array value — the
    bounds and borrow tables a search or HOF reads.

    One size rule: a table of int (or no) slots whose literal arrays
    hold at most ``_ATTACH_LIT_SLOTS`` entries in all, with dtypes
    ``_lit_array`` spells exactly, attaches as ``try_element_at`` over
    one foldable literal array per column; every other table is a
    broadcast join against the content-memoized ``_memo_table`` (a JVM
    ``LocalRelation``). A
    column whose int values equal their slots is the key itself."""
    from pyspark.sql.types import (ArrayType, DataType, LongType,
                                   StructField, StructType,
                                   _parse_datatype_string)

    def sstr(dt):
        return dt if isinstance(dt, str) else dt.simpleString()

    if key is None:
        size = sum(len(v) for v, _ in cols.values())
    else:
        slots = list(range(len(next(iter(cols.values()))[0]))
                     if slots is None else slots)
        int_slots = all(isinstance(s, int) for s in slots)
        ident = {nm for nm, (v, dt) in cols.items()
                 if int_slots and sstr(dt) in ("bigint", "int")
                 and list(v) == slots}
        if ident:
            sdf = sdf.withColumns({nm: key.cast(sstr(cols[nm][1]))
                                   for nm in ident})
            cols = {nm: c for nm, c in cols.items() if nm not in ident}
        if not cols:
            return sdf
        width = max(slots, default=-1) + 1 if int_slots else 0
        size = width * len(cols) if int_slots else None
    if (size is not None and size <= _ATTACH_LIT_SLOTS
            and all(sstr(dt) in _LIT_DTS for _, dt in cols.values())):
        if key is None:
            return sdf.withColumns({nm: _lit_array(v, sstr(dt))
                                    for nm, (v, dt) in cols.items()})
        idx = (key + 1).cast("int")
        out = {}
        for nm, (v, dt) in cols.items():
            arr = [None] * width
            for s, x in zip(slots, v):
                arr[s] = x
            # try_element_at: an index past the array degrades to the
            # NULL the join side gives, never an ANSI runtime error
            out[nm] = F.try_element_at(_lit_array(arr, sstr(dt)), idx)
        return sdf.withColumns(out)

    def dtype(dt):
        return dt if isinstance(dt, DataType) else _parse_datatype_string(dt)

    spark = sdf.sparkSession
    if key is None:
        schema = StructType([StructField(nm, ArrayType(dtype(dt)))
                             for nm, (_, dt) in cols.items()])
        tbl = _memo_table(spark, [tuple(list(v) for v, _ in cols.values())],
                          schema)
        return sdf.crossJoin(F.broadcast(tbl))
    sdf = sdf.withColumn("__tk__", key.cast("bigint") if int_slots else key)
    schema = StructType(
        [StructField("__tk__", LongType() if int_slots
                     else sdf.schema["__tk__"].dataType)]
        + [StructField(nm, dtype(dt)) for nm, (_, dt) in cols.items()])
    rows = [(s, *vals) for s, vals in
            zip(slots, zip(*(v for v, _ in cols.values())))]
    tbl = _memo_table(spark, rows, schema)
    return sdf.join(F.broadcast(tbl), "__tk__", "left").drop("__tk__")


def _binsearch_pos(key: Column, arr: Column, n: int, upper: bool) -> Column:
    """Position of ``key`` among ``arr``'s n ascending elements as an
    UNROLLED binary search — ⌈log₂n⌉+1 fixed iterations driven by one
    ``aggregate`` HOF, so plan size is O(1) and per-row cost O(log n)
    in the bound count (measured no slower than the literal comparison
    chain it replaced at 2-64 bounds, SCALE.md).
    upper=False: #elements strictly below key (lower bound, strict
    ``>`` step — equal keys collapse left, into one block).
    upper=True: #elements ≤ key (``>=`` step). NaN keys order above
    every bound (Spark NaN semantics)."""
    depth = max(1, n.bit_length() + 1)

    def step(acc, _):
        lo, hi = acc["lo"], acc["hi"]
        mid = F.floor((lo + hi) / F.lit(2)).cast("int")
        probe = F.element_at(arr, mid + F.lit(1))
        go = (key >= probe) if upper else (key > probe)
        return F.when(lo < hi, F.struct(
            F.when(go, mid + F.lit(1)).otherwise(lo).alias("lo"),
            F.when(go, hi).otherwise(mid).alias("hi"))).otherwise(acc)

    init = F.struct(F.lit(0).alias("lo"), F.lit(n).alias("hi"))
    return F.aggregate(F.sequence(F.lit(1), F.lit(depth)), init, step)["lo"]


def _attach_block(sdf: SparkDataFrame, key: Column, bounds: list,
                  null_block: int = 0, descending: bool = False) -> SparkDataFrame:
    """Attach BLK for a numeric key against driver-collected split
    bounds: block id = #bounds strictly below the key, a pure function
    of the key value, so equal keys always share a block (no tie group
    straddles a boundary); nulls all land in ``null_block``. The bounds
    ship as ONE array (``_attach_table``) probed by the O(log P) binary
    search. descending=True assigns block 0 to the LARGEST keys
    (#bounds strictly above key), the rank_blocked layout."""
    n = len(bounds)
    if not n:
        return sdf.withColumn(BLK, F.lit(0))
    typ = "bigint" if all(isinstance(b, int) for b in bounds) else "double"
    aug = _attach_table(sdf, None, {"__bnds__": (bounds, typ)})
    pos = _binsearch_pos(key, F.col("__bnds__"), n, upper=descending)
    blk = (F.lit(n) - pos) if descending else pos
    return (aug.withColumn(BLK, F.when(key.isNull(), F.lit(null_block))
                           .otherwise(blk))
            .drop("__bnds__"))


def collect_sid_layout(sdf: SparkDataFrame, order_col: Column):
    """One layout stats job for the monotonic-id fast paths, grouped by
    (PHYSICAL partition, sid) and merged on the driver. Returns
    ``(stats, aligned)``:

    - ``stats``: ``[(sid, count, lo, hi), ...]`` sorted by sid, or
      ``None`` when per-sid offsets are not contiguous 0..c-1 (an
      upstream filter left gaps — fast paths must then fall back).
    - ``aligned``: every sid's rows live in exactly ONE physical
      partition of the (materialized) relation. Blocks subdivide sids, so
      aligned means block ⊆ physical partition — the precondition for
      the two-pass summarize/evaluate kernels to run as ``mapInPandas``
      with ZERO shuffles instead of two groupBy(BLK) exchanges (guide
      §2.1 "remove the shuffle outright"). spark_partition_id is read
      off the materialized relation, so its stability across the stats
      job and the later passes rides the SAME stored-leaf contract the
      id-derived literals already rely on. Callers must run their
      later passes over a relation whose ids are frozen the same way
      (``_pin_if_order`` before calling this).

    Callers that need BOTH a dense row number and a block layout over
    the same relation (ungrouped ffill/interpolate) collect this once
    and thread it into ``dense_row_number`` and
    ``running_pick_blocked`` — r13: the two kernels otherwise ran the
    IDENTICAL groupBy(sid) job twice per query (guide §1.2: don't
    compute things twice)."""
    sdf = _pin_if_order(sdf, order_col)
    MASK = (1 << 33) - 1
    sid = F.shiftright(order_col, 33)
    off = order_col.bitwiseAND(F.lit(MASK))
    rows = (sdf.groupBy(F.spark_partition_id().alias("p"), sid.alias("b"))
            .agg(F.count(F.lit(1)).alias("c"),
                 F.min(off).alias("lo"), F.max(off).alias("hi"))
            .collect())
    agg: dict[int, list] = {}
    pids: dict[int, set] = {}
    for r in rows:
        b = int(r["b"])
        e = agg.setdefault(b, [0, None, None])
        e[0] += int(r["c"])
        e[1] = int(r["lo"]) if e[1] is None else min(e[1], int(r["lo"]))
        e[2] = int(r["hi"]) if e[2] is None else max(e[2], int(r["hi"]))
        pids.setdefault(b, set()).add(int(r["p"]))
    stats = sorted((b, c, lo, hi) for b, (c, lo, hi) in agg.items())
    if not all(lo == 0 and hi == c - 1 for _b, c, lo, hi in stats):
        return None, False
    # physical alignment holds only over a relation whose PARTITIONING
    # is stored too, not just its ids (_pin_if_order skips the leaf when
    # the ids alone are frozen upstream)
    return stats, (all(len(v) == 1 for v in pids.values())
                   and I.ids_frozen(sdf, layout=True))


def _attach_sid(sdf: SparkDataFrame, order_col: Column, sid_stats,
                n: int | None = None,
                pos: str | None = None) -> tuple[SparkDataFrame, list]:
    """The monotonic-id layout: ``order_col`` is the engine id
    (sid · 2³³ + offset) with offsets 0..c-1 in every sid
    (``collect_sid_layout`` stats). With ``n``, attach BLK: a sid of c
    rows becomes k = max(1, round-half-up(c / chunk)) blocks, chunk =
    ⌈rows/n⌉, and offset ``off`` lands in block ⌊off·k/c⌋ of its sid,
    so every block holds ⌊c/k⌋ or ⌈c/k⌉ rows. A sid under 1.5 chunks
    is one block (a balanced range-partitioned layout keeps blocks ≡
    sids, and the fused layout+totals job of ``expanding_blocked``
    applies); a skewed or AQE-coalesced layout still fans out to ≈n
    blocks with no sub-chunk sliver. Each sid gives at most c/chunk + ½
    blocks, or one block when c < chunk/2, so the layout has at most
    n + sids/2 blocks plus ½ per sid under half a chunk (≤ n + sids).
    With ``pos``, attach column ``pos`` = the global 0-based position,
    rows in earlier sids + offset. Both are ONE sid-keyed
    ``_attach_table`` lookup: no percentile job, no window; a layout
    where some sid splits adds its k and c to the lookup. Returns
    ``(sdf, cnts)``, the row count of each block in block order."""
    import math

    sid = F.shiftright(order_col, 33)
    off = order_col.bitwiseAND(F.lit((1 << 33) - 1))
    ids = [int(s) for s, *_ in sid_stats]
    counts = [int(c) for _s, c, *_ in sid_stats]
    chunk = max(1, math.ceil(sum(counts) / n)) if n else 0
    firsts, ks, cnts, before, acc = [], [], [], [], 0
    for c in counts:
        before.append(acc)
        acc += c
        if n:
            k = max(1, (2 * c + chunk) // (2 * chunk))  # round half up
            firsts.append(len(cnts))
            ks.append(k)
            # offsets ⌈j·c/k⌉ .. ⌈(j+1)·c/k⌉-1 form block j of the sid
            cnts.extend(-(-(j + 1) * c // k) + (-j * c // k)
                        for j in range(k))
    cols = {}
    if n:
        cols["__sfirst__"] = (firsts, "bigint")
    split = any(k > 1 for k in ks)
    if split:
        cols["__sk__"] = (ks, "bigint")
        cols["__sc__"] = (counts, "bigint")
    if pos:
        cols[pos] = (before, "bigint")
    sdf = _attach_table(sdf, sid, cols, slots=ids)
    if pos:
        sdf = sdf.withColumn(pos, F.col(pos) + off)
    if n:
        blk = F.col("__sfirst__")
        if split:
            # off·k < 2³³·n is exact in a double, so the floor is too
            blk = blk + F.floor(off * F.col("__sk__") / F.col("__sc__"))
        sdf = sdf.withColumn(BLK, blk.cast("int")).drop(
            "__sfirst__", "__sk__", "__sc__")
    return sdf, cnts


def block_partition(sdf: SparkDataFrame, order_col: Column,
                    n_blocks: int | None = None,
                    monotonic_id: bool = False,
                    sid_stats=None) -> SparkDataFrame:
    """Attach the block id for a numeric order key. No physical
    repartition here — the per-block window's own hash exchange on
    BLK distributes the work. ``monotonic_id=True`` (the caller's
    order key is the engine id, possibly copied into another column)
    takes the sid layout (``_attach_sid``; ``sid_stats`` passes stats
    already collected, False a layout known to have offset gaps). An
    id with gaps (an upstream filter) or any other key takes one
    percentile_approx job for split bounds, applied by
    ``_attach_block``."""
    sdf = _pin_if_order(sdf, order_col)
    n = n_blocks or _n_blocks(sdf)
    if monotonic_id and sid_stats is None:
        sid_stats = collect_sid_layout(sdf, order_col)[0]
    if monotonic_id and sid_stats is not None and sid_stats is not False:
        return _attach_sid(sdf, order_col, sid_stats, n)[0]
    bounds = _split_bounds(sdf, order_col, n)
    return _attach_block(sdf, order_col, bounds)


# Per-task row ceiling for the aligned zero-shuffle path: when the sid
# count is below the target parallelism, blocks-as-sids would run fewer
# tasks than the shuffled subdividing layout — acceptable only while a
# task's sequential numpy pass stays trivially cheap. 4M rows ≈ tens of
# ms per kernel column; a handful of huge cached partitions (e.g. an
# upstream AQE-coalesced exchange) falls back to the groupBy layouts.
_ALIGNED_ROWS_CAP = 4_000_000

# Row threshold for running_pick's VALUE-keyed fast-carry strategy
# (see running_pick_blocked): below it the lazy shared-exchange carry
# wins (its cost is one fewer blocking build job — fixed driver time,
# and over the materialized input the second window evaluation reads
# stored rows); above it the collect-and-fold carry wins (the double window
# evaluation scales with the data). Measured over the PINNED input on
# this box: 45k-row union lazy 0.78 s vs fast ~1.1 s; 450k lazy 0.95
# vs fast 1.34; 6.25M fast 2.38 vs lazy 2.90 (1.22×, growing with
# data) — geometric midpoint ≈ 2M. Threshold in ROWS, not cores.
_CARRY_FAST_MIN_ROWS = 2_000_000


def _blocked_base(sdf: SparkDataFrame, order_col: Column,
                  n_blocks: int | None,
                  mono: bool) -> tuple[SparkDataFrame, bool, int]:
    """Attach ``OC`` + ``BLK`` for a two-pass summarize/evaluate kernel.

    Returns ``(base, aligned, nb_est)``. aligned=True means blocks ≡ id
    source partitions, each wholly inside ONE physical partition of the
    materialized relation (``collect_sid_layout``), with enough of them (or
    few enough rows each) that parallelism does not regress — both
    passes then run as ``mapInPandas`` with ZERO shuffles, and BLK is a
    pure projection of the id's sid bits instead of a broadcast join.
    Otherwise the existing ``block_partition`` layouts apply unchanged
    and the passes keep their groupBy(BLK) exchanges. An EXPLICIT
    ``n_blocks`` (tests forcing cross-block chains; production callers
    pass None) always takes the subdividing layouts. ``nb_est`` is an
    upper-bound ESTIMATE of the block count (exact sid count on the
    aligned path; the layout target otherwise) for callers that budget
    driver-side per-block collects (guide §5)."""
    OC = "__ord__"
    base0 = sdf.withColumn(OC, order_col)
    if mono and n_blocks is None:
        stats, phys = collect_sid_layout(sdf, order_col)
        # The row cap is a HARD precondition (r14, VERDICT r13 #2): the
        # r13 form OR'ed it with `len(stats) >= _n_blocks`, so a layout
        # with many sids but one giant skewed source partition (hot key
        # upstream, AQE-coalesced exchange) slipped past the cap and
        # _by_block would pd.concat the whole physical partition into
        # one pandas frame in one task — an OOM/straggler risk at scale
        # (guide §5) the subdividing fallback below never had.
        if stats is not None and phys and stats and max(
                c for _b, c, _l, _h in stats) <= _ALIGNED_ROWS_CAP:
            blk = F.shiftright(F.col(OC), 33).cast("int")
            return base0.withColumn(BLK, blk), True, len(stats)
        # the sid layout (_attach_sid) has ≤ target + sids/2 blocks,
        # plus ½ per sid under half a chunk: ≤ target + sids
        nb_est = _n_blocks(sdf) + (len(stats) if stats else 0)
        return block_partition(
            base0, F.col(OC), n_blocks, monotonic_id=True,
            sid_stats=stats if stats is not None else False), False, nb_est
    nb_est = n_blocks or _n_blocks(sdf)
    return block_partition(base0, F.col(OC), n_blocks,
                           monotonic_id=mono), False, nb_est


def _by_block(fn, schema):
    """Wrap a grouped-map ``fn(key, pdf)`` for ``mapInPandas``: gather
    the partition, apply per local BLK group, emit schema columns in
    order. Valid only on the aligned layout (every block wholly in
    this partition); grouped-map semantics are otherwise identical —
    the kernels' fns sort by OC themselves where order matters."""
    names = [f.name for f in schema.fields]

    def run(it):
        import pandas as pd

        pdfs = [p for p in it if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        for b, g in pdf.groupby(BLK, sort=False):
            out = fn((int(b),), g)
            yield out[names]

    return run


def _pass_summaries(base: SparkDataFrame, sel_cols: list,
                    summarize, sum_schema, aligned: bool) -> list:
    """Pass 1: per-block summaries, driver-collected. Aligned layout:
    one shuffle-free mapInPandas stage over the pruned columns."""
    pruned = base.select(*sel_cols)
    if aligned:
        return pruned.mapInPandas(_by_block(summarize, sum_schema),
                                  schema=sum_schema).collect()
    return (pruned.groupBy(BLK)
            .applyInPandas(summarize, schema=sum_schema).collect())


def _pass_evaluate(base: SparkDataFrame, evaluate, out_schema,
                   aligned: bool) -> SparkDataFrame:
    """Pass 2: per-block evaluation with the driver-folded entry
    states closed over. Aligned layout: shuffle-free mapInPandas."""
    if aligned:
        return base.mapInPandas(_by_block(evaluate, out_schema),
                                schema=out_schema)
    return base.groupBy(BLK).applyInPandas(evaluate, schema=out_schema)


def rolling_blocked(sdf: SparkDataFrame, order_col: Column, lo, hi: int,
                    build: Callable[[W], list[tuple[str, Column]]],
                    time_based: bool = False,
                    n_blocks: int | None = None,
                    monotonic_id: bool = False) -> SparkDataFrame:
    """Bounded-window rolling over blocks with boundary borrow.

    ``build(w)`` returns the output columns as expressions over the
    per-block window ``w`` — identical to what the single-partition
    plan would use, so semantics are unchanged by construction.

    Rows-based: ``lo``/``hi`` are row offsets (lo ≤ 0 ≤ hi borrow
    both directions). Time-based: ``lo``/``hi`` are µs offsets and
    ``order_col`` must be the epoch-µs expression; only trailing
    windows (hi ≤ 0) occur in the API.
    """
    import inspect

    OC = "__ord__"
    sdf = _pin_if_order(sdf, order_col)
    base0 = sdf.withColumn(OC, order_col)
    n_params = len(inspect.signature(build).parameters)
    n = n_blocks or _n_blocks(sdf)

    # Block layout, block row counts and each row's global position.
    # On the engine id (offsets contiguous per sid) ONE stats job gives
    # the sid layout, and the position is read off the id: rows before
    # the sid + offset, no row_number window. Any other key (a time
    # key, or id offsets with gaps after a filter) splits on the key's
    # value and collects each block's count and min key in one tiny
    # job. Borrowing a row into every block whose windows need it is a
    # single explode, so the main job scans the base relation once.
    stats = (collect_sid_layout(sdf, order_col)[0]
             if monotonic_id and not time_based else None)
    per: dict = {}
    if stats is not None:
        base, cnts = _attach_sid(base0, F.col(OC), stats, n, pos="__gp__")
    else:
        bounds = _split_bounds(base0, F.col(OC), n)
        base = _attach_block(base0, F.col(OC), bounds)
        if bounds:
            per = {r[BLK]: r for r in base.groupBy(BLK).agg(
                F.count(F.lit(1)).alias("c"), F.min(OC).alias("m")).collect()}
        cnts = [per[b]["c"] if b in per else 0
                for b in range(len(bounds) + 1)]
    nb = len(cnts)

    def finish(aug: SparkDataFrame) -> SparkDataFrame:
        ordered = W.partitionBy(BLK).orderBy(F.col(OC).asc())
        w = ordered.rangeBetween(lo, hi) if time_based else ordered.rowsBetween(lo, hi)
        # lag/lead-based exprs need the unframed spec — 2-arg builders
        cols = build(w, ordered) if n_params >= 2 else build(w)
        # duplicate names legal in `cols` (later wins) — withColumns
        # rejects them, so batch only when unique (one py4j call)
        names = [n for n, _ in cols]
        if len(set(names)) == len(names):
            aug = aug.withColumns(dict(cols))
        else:
            for name, expr in cols:
                aug = aug.withColumn(name, expr)
        return aug.filter(~F.col(BORROW)).drop(BLK, BORROW, OC)

    no_borrow = base.withColumn(BORROW, F.lit(False)).drop("__gp__")
    own = F.array(F.struct(F.col(BLK).cast("int").alias("d"),
                           F.lit(False).alias("bw")))

    def spread(aug: SparkDataFrame, copies: Column, *temps) -> SparkDataFrame:
        return finish(aug.withColumn("__cp__", F.explode(copies))
                      .withColumn(BLK, F.col("__cp__.d"))
                      .withColumn(BORROW, F.col("__cp__.bw"))
                      .drop("__cp__", "__gp__", "__bst__", "__bcnt__", *temps))

    def borrow(aug: SparkDataFrame, table: dict, hit) -> SparkDataFrame:
        """Each row's own block plus every destination of the borrow
        ``table`` (first column: block ids) whose entry ``hit`` holds."""
        names = list(table)
        hits = F.filter(F.arrays_zip(*names), hit)
        return spread(_attach_table(aug, None, table), F.concat(own, F.transform(
            hits, lambda s: F.struct(s[names[0]].alias("d"),
                                     F.lit(True).alias("bw")))), *names)

    if nb <= 1:
        return finish(no_borrow)

    if time_based:
        # destination d needs every row with OC >= min(OC in d) + lo
        dests = ([(d, per[d]["m"] + lo) for d in range(1, nb)
                  if d in per and per[d]["m"] is not None]
                 if lo is not None and lo < 0 else [])
        if not dests:
            return finish(no_borrow)
        return borrow(base, {"__dd__": ([d for d, _ in dests], "int"),
                             "__dthr__": ([t for _, t in dests], "bigint")},
                      lambda s: (s["__dd__"] > F.col(BLK))
                      & (F.col(OC) >= s["__dthr__"]))

    need_prev = max(-lo, 0) if isinstance(lo, int) else 0
    need_next = max(hi, 0) if isinstance(hi, int) else 0
    if not (need_prev or need_next):
        return finish(no_borrow)
    starts, acc = [], 0
    for c in cnts:
        starts.append(acc)
        acc += c
    # Scalar single-destination path: when every interior block is at
    # least as wide as the window reach, a row borrows into at most the
    # adjacent block — plain comparisons against the block start/count,
    # whole-stage-codegen'd. (The interval table below is exact under
    # arbitrary skew but evaluates a HOF per row.)
    scalar = (all(cnts[d] >= need_prev for d in range(1, nb))
              and all(cnts[d] >= need_next for d in range(nb - 1)))
    tcols = {}
    if scalar or stats is None:
        tcols["__bst__"] = (starts, "bigint")
    if scalar and need_prev:
        tcols["__bcnt__"] = (cnts, "bigint")
    aug = _attach_table(base, F.col(BLK), tcols) if tcols else base
    bst, bcnt = F.col("__bst__"), F.col("__bcnt__")
    if stats is None:
        rn = F.row_number().over(W.partitionBy(BLK).orderBy(F.col(OC).asc()))
        aug = aug.withColumn("__gp__", bst + rn - 1)
    g = F.col("__gp__")
    if scalar:
        parts = [own]
        empty = F.array().cast("array<struct<d:int,bw:boolean>>")
        if need_prev:
            # next block's start == this block's start + count
            cond = (F.col(BLK) < nb - 1) & (g >= bst + bcnt - need_prev)
            parts.append(F.when(cond, F.array(F.struct(
                (F.col(BLK) + 1).cast("int").alias("d"),
                F.lit(True).alias("bw")))).otherwise(empty))
        if need_next:
            cond = (F.col(BLK) > 0) & (g < bst + need_next)
            parts.append(F.when(cond, F.array(F.struct(
                (F.col(BLK) - 1).cast("int").alias("d"),
                F.lit(True).alias("bw")))).otherwise(empty))
        return spread(aug, F.concat(*parts))
    ivs = []
    for d in range(nb):
        if cnts[d] == 0:
            continue  # no windows evaluate in an empty block
        if need_prev and d > 0:
            ivs.append((d, starts[d] - need_prev, starts[d]))
        if need_next and d < nb - 1:
            end = starts[d] + cnts[d]
            ivs.append((d, end, end + need_next))
    if not ivs:
        return finish(no_borrow)
    return borrow(aug, {"__ivd__": ([d for d, _, _ in ivs], "int"),
                        "__ivlo__": ([a for _, a, _ in ivs], "bigint"),
                        "__ivhi__": ([b for _, _, b in ivs], "bigint")},
                  lambda s: (s["__ivd__"] != F.col(BLK))
                  & (g >= s["__ivlo__"]) & (g < s["__ivhi__"]))



# ----------------------------------------------------------------- #
# expanding / cumulative: per-block running aggregate + prefix carry #
# ----------------------------------------------------------------- #

# spec: out_name -> (in_col, kind); kind in
#   sum count min max mean var std prod
_RUNNING = {"sum", "count", "min", "max", "mean", "var", "std", "prod"}


def expanding_blocked(sdf: SparkDataFrame, order_col: Column,
                      specs: dict[str, tuple[str, str]],
                      min_periods: int = 1,
                      n_blocks: int | None = None) -> SparkDataFrame:
    """Running aggregates (expanding window) over blocks.

    Per block: running partials over a per-block window (parallel).
    Across blocks: each block's totals are aggregated into a P-row
    table; an ordered prefix over that tiny table gives the carry each
    block adds — broadcast back. Combines: sum/count add, min/max fold,
    mean = ΣX/n, var/std from (ΣX, ΣX², n), prod from Σln|x| + sign
    and zero parities (the SURVEY §2.5 cumprod idiom).
    """
    for name, (_, kind) in specs.items():
        if kind not in _RUNNING:
            raise ValueError(f"non-decomposable expanding aggregate {kind!r}")
    OC = "__ord__"
    mono = _is_order_id(order_col)
    sdf = _pin_if_order(sdf, order_col)
    wrun = (W.partitionBy(BLK).orderBy(F.col(OC).asc())
            .rowsBetween(W.unboundedPreceding, W.currentRow))

    in_cols = sorted({c for c, _ in specs.values()})
    kinds = {c: {k for (cc, k) in specs.values() if cc == c} for c in in_cols}
    # count partials are needed for the min_periods guard AND to keep
    # sum/prod null-correct: a block whose prefix is all-null has a
    # NULL local partial, and NULL + carry would poison the combine —
    # instead the combine coalesces partials to 0 and returns NULL
    # only while the GLOBAL running count is 0 (pandas skipna).
    for c in in_cols:
        if kinds[c] & {"sum", "prod", "mean", "var", "std"} or min_periods > 1:
            kinds[c].add("count")

    # var/std power sums are CENTERED at a sampled in-data reference
    # (r9, ADVICE r8 medium: the ddof=1 frame path and agg(['var',
    # 'std']) kept raw Σx/Σx², which cancel catastrophically at
    # |mean| ≫ std — variance is shift-invariant, so any finite
    # in-data constant is exact algebra). sum/mean keep the raw sums:
    # they are NOT shift-invariant.
    var_cols = [c for c in in_cols if kinds[c] & {"var", "std"}]
    refs = (first_valid_refs(sdf, var_cols, order_by=order_col)
            if var_cols else {})

    # local running partials + block totals, keyed per input column
    local_exprs: dict[str, Column] = {}
    tot_aggs: list[Column] = []
    for c in in_cols:
        ks = kinds[c]
        col = F.col(c)
        if ks & {"sum", "mean"}:
            local_exprs[f"__ls_{c}"] = F.sum(col).over(wrun)
            tot_aggs.append(F.sum(col).alias(f"__ts_{c}"))
        if ks & {"count", "mean", "var", "std"}:
            local_exprs[f"__lc_{c}"] = F.count(col).over(wrun)
            tot_aggs.append(F.count(col).alias(f"__tc_{c}"))
        if ks & {"var", "std"}:
            cc = col.cast("double") - F.lit(refs[c])
            local_exprs[f"__lv1_{c}"] = F.sum(cc).over(wrun)
            tot_aggs.append(F.sum(cc).alias(f"__tv1_{c}"))
            local_exprs[f"__lq_{c}"] = F.sum(cc * cc).over(wrun)
            tot_aggs.append(F.sum(cc * cc).alias(f"__tq_{c}"))
        if "min" in ks:
            local_exprs[f"__lm_{c}"] = F.min(col).over(wrun)
            tot_aggs.append(F.min(col).alias(f"__tm_{c}"))
        if "max" in ks:
            local_exprs[f"__lmx_{c}"] = F.max(col).over(wrun)
            tot_aggs.append(F.max(col).alias(f"__tmx_{c}"))
        if "prod" in ks:
            local_exprs[f"__ll_{c}"] = F.sum(F.log(F.abs(col))).over(wrun)
            local_exprs[f"__ln_{c}"] = F.sum(
                F.when(col < 0, 1).otherwise(0)).over(wrun)
            local_exprs[f"__lz_{c}"] = F.sum(
                F.when(col == 0, 1).otherwise(0)).over(wrun)
            tot_aggs.append(F.sum(F.log(F.abs(col))).alias(f"__tl_{c}"))
            tot_aggs.append(F.sum(F.when(col < 0, 1).otherwise(0)).alias(f"__tn_{c}"))
            tot_aggs.append(F.sum(F.when(col == 0, 1).otherwise(0)).alias(f"__tz_{c}"))

    # count() gates min_periods on ROW position, not non-null
    # observations (pandas treats count specially) — one extra
    # row-count partial + carry
    needs_rows = min_periods > 1 and any(k == "count" for _, k in specs.values())
    if needs_rows:
        local_exprs["__lr__"] = F.count(F.lit(1)).over(wrun)
        tot_aggs.append(F.count(F.lit(1)).alias("__tr__"))

    # Cross-block prefix carries: the ≤P-row block-totals table is
    # DRIVER-COLLECTED and re-shipped through ``_attach_table`` (r9).
    # The previous lazy carry subtree (a window over the grouped
    # totals) re-evaluated the whole upstream chain once per blocked
    # call inside the MAIN action — the r8 plan of a 4-call chain held
    # 85 Exchange SinglePartition subtrees and warm time doubled (r8
    # VERDICT "What's wrong" #1). Collected, the main plan is linear:
    # one scan, one window exchange, one table attach. Python folds
    # replicate Spark null/NaN aggregate semantics
    # (_fold_min/_fold_max; sums skip nulls).
    carry_specs: list[tuple[str, str, str]] = []  # (carry, total, fold)
    for c in in_cols:
        ks = kinds[c]
        if ks & {"sum", "mean"}:
            carry_specs.append((f"__ps_{c}", f"__ts_{c}", "sum"))
        if ks & {"count", "mean", "var", "std"}:
            carry_specs.append((f"__pc_{c}", f"__tc_{c}", "sum"))
        if ks & {"var", "std"}:
            carry_specs.append((f"__pv1_{c}", f"__tv1_{c}", "sum"))
            carry_specs.append((f"__pq_{c}", f"__tq_{c}", "sum"))
        if "min" in ks:
            carry_specs.append((f"__pm_{c}", f"__tm_{c}", "min"))
        if "max" in ks:
            carry_specs.append((f"__pmx_{c}", f"__tmx_{c}", "max"))
        if "prod" in ks:
            carry_specs.append((f"__pl_{c}", f"__tl_{c}", "sum"))
            carry_specs.append((f"__pn_{c}", f"__tn_{c}", "sum"))
            carry_specs.append((f"__pz_{c}", f"__tz_{c}", "sum"))
    if needs_rows:
        carry_specs.append(("__pr__", "__tr__", "sum"))

    # Block layout + totals: on the monotonic-id path ONE groupBy(sid)
    # job returns the contiguity stats AND every sid's totals (r9 — the
    # split stats-then-totals pair was half of each call's build latency
    # on small/chained inputs). When no sid splits (every sid under 1.5
    # chunks, ``_attach_sid``), blocks == sids and those totals are the
    # block totals; a layout with a skewed sid, or a value-derived one,
    # aggregates its block totals in a second job.
    base = None
    trows: list[tuple[int, dict]] | None = None  # (blk, totals row) asc
    tot_schema = None
    if mono:
        sid = F.shiftright(order_col, 33)
        off = order_col.bitwiseAND(F.lit((1 << 33) - 1))
        stats_df = sdf.groupBy(sid.alias("__b__")).agg(
            F.count(F.lit(1)).alias("__c__"),
            F.min(off).alias("__lo__"), F.max(off).alias("__hi__"),
            *tot_aggs)
        stats = sorted(stats_df.collect(), key=lambda r: r["__b__"])
        if stats and all(r["__lo__"] == 0 and r["__hi__"] == r["__c__"] - 1
                         for r in stats):
            base, cnts = _attach_sid(
                sdf.withColumn(OC, order_col), F.col(OC),
                [(r["__b__"], r["__c__"]) for r in stats],
                n_blocks or _n_blocks(sdf))
            if len(cnts) == len(stats):
                trows = list(enumerate(stats))
                tot_schema = stats_df.schema
    if base is None:
        base = block_partition(sdf.withColumn(OC, order_col), F.col(OC),
                               n_blocks, monotonic_id=mono)
    if trows is None:
        totals = base.groupBy(BLK).agg(*tot_aggs)
        trows = sorted(((r[BLK], r) for r in totals.collect()),
                       key=lambda t: t[0])
        tot_schema = totals.schema

    aug = base.withColumns(local_exprs)

    tsch = {f.name: f for f in tot_schema.fields}
    # Integer sum carries fold in Python (arbitrary precision) but are
    # re-shipped as int64 values AND added to int64 JVM partials —
    # wrap them two's-complement like the JVM (and pandas' numpy
    # cumsum) does. Wrapping once per fold step ≡ wrapping per element
    # (addition is associative mod 2^64), so overflowing int64 cum*
    # matches pandas bit-for-bit instead of crashing createDataFrame
    # (r10 overflow fuzz family).
    # Spark's sum() always widens integral inputs to bigint, so a sum
    # carry schema is either bigint or floating — wrapping at 64-bit
    # width is exact for every schema that can actually appear here
    # (narrower schemas would need narrower wrap, but can't occur).
    int_sums = {nm for nm, tn, fk in carry_specs
                if fk == "sum"
                and tsch[tn].dataType.simpleString() == "bigint"}
    acc: dict = {nm: None for nm, _, _ in carry_specs}
    per: dict[str, list] = {nm: [] for nm, _, _ in carry_specs}
    for _blk, r in trows:
        for nm, tn, fk in carry_specs:
            per[nm].append(acc[nm])
            v = r[tn]
            if v is not None:
                acc[nm] = _FOLDS[fk](acc[nm], v)
                if nm in int_sums:
                    acc[nm] = _wrap_i64(acc[nm])
    aug = _attach_table(
        aug, F.col(BLK),
        {nm: (per[nm], tsch[tn].dataType) for nm, tn, _ in carry_specs},
        slots=[int(blk) for blk, _ in trows])

    z = F.lit(0)
    out_exprs: dict[str, Column] = {}  # batched: exprs only read __l*/__p*
    for name, (c, kind) in specs.items():
        s = F.coalesce(F.col(f"__ls_{c}"), z) + F.coalesce(F.col(f"__ps_{c}"), z) \
            if kind in ("sum", "mean") else None
        n = F.col(f"__lc_{c}") + F.coalesce(F.col(f"__pc_{c}"), z) \
            if kind in ("count", "sum", "prod", "mean", "var", "std") else None
        if kind == "sum":
            out = F.when(n > 0, s).otherwise(F.lit(None))
        elif kind == "count":
            out = n
        elif kind == "mean":
            out = s / n
        elif kind in ("var", "std"):
            # CENTERED sums (r9): variance is shift-invariant, the
            # centered form doesn't cancel at |mean| ≫ std. coalesce
            # the LOCAL partial too: a block whose prefix is all-null
            # has lq NULL, and NULL + carry → NULL would then slip
            # through greatest(NULL, 0.0) as 0.0 (fuzz-caught, seed
            # 10100692: every NaN row in its own block)
            sc = (F.coalesce(F.col(f"__lv1_{c}"), z)
                  + F.coalesce(F.col(f"__pv1_{c}"), z))
            q = F.coalesce(F.col(f"__lq_{c}"), z) + F.coalesce(F.col(f"__pq_{c}"), z)
            # clamp: ΣX'² − (ΣX')²/n can go −ε on constant runs
            out = F.when(n > 1, F.greatest(
                (q - sc * sc / n) / (n - F.lit(1)), F.lit(0.0))).otherwise(F.lit(None))
            if kind == "std":
                out = F.sqrt(out)
        elif kind == "min":
            out = F.least(F.col(f"__lm_{c}"), F.coalesce(F.col(f"__pm_{c}"), F.col(f"__lm_{c}")))
        elif kind == "max":
            out = F.greatest(F.col(f"__lmx_{c}"), F.coalesce(F.col(f"__pmx_{c}"), F.col(f"__lmx_{c}")))
        elif kind == "prod":
            lg = (F.coalesce(F.col(f"__ll_{c}"), F.lit(0.0))
                  + F.coalesce(F.col(f"__pl_{c}"), F.lit(0.0)))
            negs = F.coalesce(F.col(f"__ln_{c}"), z) + F.coalesce(F.col(f"__pn_{c}"), z)
            zeros = F.coalesce(F.col(f"__lz_{c}"), z) + F.coalesce(F.col(f"__pz_{c}"), z)
            sign = F.when(negs % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))
            out = F.when(n == 0, F.lit(None)) \
                   .when(zeros > 0, F.lit(0.0)).otherwise(sign * F.exp(lg))
        if min_periods > 1:
            if kind == "count":
                gate = F.col("__lr__") + F.coalesce(F.col("__pr__"), z)
            else:
                gate = F.col(f"__lc_{c}") + F.coalesce(F.col(f"__pc_{c}"), z)
            out = F.when(gate >= min_periods, out).otherwise(F.lit(None))
        out_exprs[name] = out
    aug = aug.withColumns(out_exprs)

    drop = [c for c in aug.columns if c.startswith("__l") or c.startswith("__p")]
    return aug.drop(BLK, "__ord__", *drop)


def dense_row_number(sdf: SparkDataFrame, order_col: Column,
                     name: str, sid_stats=None) -> SparkDataFrame:
    """Global dense 1-based row number in ``order_col`` order.

    Fast path (r13): when the order key is the engine's monotonic id
    with gap-free per-partition offsets, the row number is PURE
    PARTITION METADATA — one tiny groupBy(sid) stats job, then rn =
    rows before the sid + offset + 1 (``_attach_sid``). No window, no
    shuffle, no per-block totals pass (guide §2.4: remove the shuffle
    outright). The generic fallback is the blocked running count
    (expanding_blocked), the pre-r13 plan."""
    if _is_order_id(order_col):
        sdf = _pin_if_order(sdf, order_col)
        if sid_stats is None:
            sid_stats = collect_sid_layout(sdf, order_col)[0]
        if sid_stats:
            out, _ = _attach_sid(sdf, order_col, sid_stats, pos=name)
            return out.withColumn(name, F.col(name) + F.lit(1))
    out = expanding_blocked(sdf.withColumn("__dr1__", F.lit(1)),
                            order_col, {name: ("__dr1__", "count")})
    return out.drop("__dr1__")


def row_position(sdf: SparkDataFrame, name: str) -> SparkDataFrame:
    """``sdf`` plus ``name`` = TRUE 0-based global position along the
    engine order id (``dense_row_number`` minus one) — the engine's one
    positional primitive. Raw ``__order__`` ids are (partition << 33) +
    offset, never positions on a multi-partition frame."""
    return (dense_row_number(sdf, F.col(I.ORDER_COL), name)
            .withColumn(name, F.col(name) - 1))


# Driver bytes the fused median attempt may ship (16 bytes per
# histogram entry, see expanding_quantile_approx_blocked); 0 forces the
# classic percentile_approx + bincount pair.
_MEDIAN_FUSE_BUDGET = 256 * 2**20


def expanding_quantile_approx_blocked(sdf: SparkDataFrame, order_col: Column,
                                      cols: list[str], q: float,
                                      n_grid: int = 1024,
                                      min_periods: int = 1,
                                      n_blocks: int | None = None) -> SparkDataFrame:
    """Approximate distributed expanding quantile (opt-in
    ``approx=True``; the exact ungrouped expanding quantile is an
    order statistic over every growing prefix — sequential by
    construction and guarded at 5M rows; the reference has NO
    approximate aggregates at all, SURVEY §2.4, so this is an extra).

    Approximation contract (documented, SCALE.md): candidate answers
    are snapped to a GLOBAL ``n_grid``-point equi-depth value grid
    (one percentile_approx job over the full column). Rank accounting
    against that grid is EXACT: per block, pass 1 bins every value and
    returns a bincount vector; the driver prefix-sums the ≤P vectors
    into each block's incoming counts; pass 2 replays exact running
    bin counts and picks the first grid value whose cumulative count
    reaches k = floor(q·(nobs−1)) + 1 (the lower order statistic).
    The returned value is therefore a real data value whose prefix
    rank differs from the exact quantile's by at most the number of
    prefix values inside ONE grid cell (≈ nobs/n_grid on average for
    grid-like data). Per-row work is O(n_grid) vectorized (chunked
    one-hot cumsum); the incoming prefix counts ride a broadcast
    ≤P-row table joined on the block id (never the UDF closure).
    Replaces ``cols`` in place (double).

    FUSED grid pass (r14, VERDICT r13 #4): the three sequential jobs
    (percentile_approx grid, bincount summarize, evaluate) become TWO —
    pass 1 returns each block's EXACT value histogram (unique values +
    counts, packed binary) instead of grid bincounts, and the driver
    derives both the grid and the per-block bincounts from the merged
    histograms. The grid is then exact equi-depth (≤n_grid values at
    the i/n_grid cumulative fractions; ALL distinct values when they
    fit the grid — declared low-cardinality queries thus return the
    exact lower order statistic, same as before), and the rank
    accounting stays exact: driver-side binning of the histograms is
    value-identical to executor-side binning of the raw rows. A block
    whose distinct count exceeds ``max(4·n_grid, 4096)`` overflows the
    histogram budget and the classic percentile_approx + bincount pair
    runs instead (high-cardinality inputs pay one extra pruned pass for
    the attempt). The whole attempt is gated on
    ``_MEDIAN_FUSE_BUDGET`` driver bytes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (BinaryType, LongType, StringType,
                                   StructField, StructType)

    mono = _is_order_id(order_col)
    OC = "__ord__"
    sdf = _pin_if_order(sdf, order_col)
    for c in cols:
        sdf = sdf.withColumn(c, F.col(c).cast("double"))

    base, aligned, _nb_est = _blocked_base(sdf, order_col, n_blocks, mono)

    def _bins(x, E):
        valid = ~np.isnan(x)
        j = np.searchsorted(E, x[valid], side="left")
        return valid, np.minimum(j, len(E) - 1)

    grids: dict[str, "np.ndarray"] = {}
    per: dict = {}
    blks: list = []
    fused_done = False
    ucap = max(4 * n_grid, 4096)
    # Driver-bytes budget for the fused attempt (guide §5): each
    # (block, col) histogram ships ≤ ucap (value, count) pairs = 16
    # bytes/entry to the driver. The per-block ucap bounds a single
    # block, not the layout — an aligned layout's block count equals
    # its sid count (unbounded at scale), so gate the whole attempt on
    # the estimated total and fall back to the classic fixed-size
    # percentile_approx grid when it would not fit.
    if _nb_est * len(cols) * ucap * 16 <= _MEDIAN_FUSE_BUDGET:
        hist_schema = StructType([
            StructField("b", LongType()), StructField("col", StringType()),
            StructField("vals", BinaryType(), True),
            StructField("cnts", BinaryType(), True)])

        def hist_summarize(key, pdf):
            b = int(key[0])
            rows = []
            for c in cols:
                x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                x = x[~np.isnan(x)]
                u, cc = np.unique(x, return_counts=True)
                if len(u) > ucap:  # histogram budget blown: overflow marker
                    rows.append((b, c, None, None))
                else:
                    rows.append((b, c, u.tobytes(),
                                 cc.astype(np.int64).tobytes()))
            return pd.DataFrame(rows, columns=["b", "col", "vals", "cnts"])

        hrows = _pass_summaries(base, [BLK, *cols], hist_summarize,
                                hist_schema, aligned)
        if all(r["vals"] is not None for r in hrows):
            blks = sorted({r["b"] for r in hrows})
            hists: dict = {}
            for r in hrows:
                hists.setdefault(r["col"], {})[r["b"]] = (
                    np.frombuffer(r["vals"], dtype=np.float64),
                    np.frombuffer(r["cnts"], dtype=np.int64))
            for c in cols:
                hc = hists.get(c, {})
                if not hc:
                    grids[c] = np.empty(0, dtype=np.float64)
                    continue
                vals = np.unique(np.concatenate([u for u, _ in hc.values()]))
                if len(vals) <= n_grid:
                    E = vals  # every distinct value: snapping = identity
                else:
                    # exact equi-depth n_grid points: value at each
                    # i/n_grid cumulative fraction of the merged counts
                    tot = np.zeros(len(vals), dtype=np.int64)
                    for u, cc in hc.values():
                        np.add.at(tot, np.searchsorted(vals, u), cc)
                    cum = np.cumsum(tot)
                    n_tot = int(cum[-1])
                    # exact integer ceil(i*n_tot/n_grid): the float form
                    # could round ks[-1] above n_tot for non-power-of-2
                    # n_grid, sending searchsorted past the last value
                    # (driver IndexError). Integer math pins ks[-1] ==
                    # n_tot, in bounds by construction.
                    ks = (np.arange(1, n_grid + 1, dtype=np.int64)
                          * n_tot + n_grid - 1) // n_grid
                    E = np.unique(vals[np.searchsorted(cum, ks, side="left")])
                grids[c] = E
                per[c] = {}
                for b, (u, cc) in hc.items():
                    cnts = np.zeros(len(E), dtype=np.int64)
                    if len(E) and len(u):
                        j = np.minimum(np.searchsorted(E, u, side="left"),
                                       len(E) - 1)
                        np.add.at(cnts, j, cc)
                    per[c][b] = cnts
            fused_done = True

    if not fused_done:
        # classic path: one percentile_approx grid job, then grid
        # bincounts per block (high-cardinality / fuse-disabled inputs)
        probs = _lit_array((i / n_grid for i in range(1, n_grid + 1)), "double")
        row = sdf.select(*[F.percentile_approx(F.col(c), probs,
                                               F.lit(max(10_000, 4 * n_grid)))
                           .alias(c) for c in cols]).first()
        for c in cols:
            es = [e for e in (row[c] or []) if e is not None]
            grids[c] = np.unique(np.asarray(es, dtype=np.float64))

        sum_schema = StructType([
            StructField("b", LongType()), StructField("col", StringType()),
            StructField("cnts", BinaryType())])

        def summarize(key, pdf):
            b = int(key[0])
            rows = []
            for c in cols:
                E = grids[c]
                x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                if len(E) == 0:
                    rows.append((b, c, b""))
                    continue
                _, j = _bins(x, E)
                rows.append((b, c, np.bincount(j, minlength=len(E))
                             .astype(np.int64).tobytes()))
            return pd.DataFrame(rows, columns=["b", "col", "cnts"])

        # pass 1 ships ONLY (block id, value columns) into the Python
        # worker — the bincount is order-independent and an opaque UDF
        # blocks Spark's own pruning (guide §4.1), so the full-width
        # input was paying Arrow transfer for every column
        summaries = _pass_summaries(base, [BLK, *cols], summarize,
                                    sum_schema, aligned)
        for r in summaries:
            per.setdefault(r["col"], {})[r["b"]] = np.frombuffer(
                r["cnts"] or b"", dtype=np.int64)
        blks = sorted({r["b"] for r in summaries})
    # incoming prefix counts attach per block (``_attach_table``) —
    # NOT pickled into the UDF closure, which would copy all P·n_grid
    # counts to every task — and stay PACKED BINARY end to end (8
    # bytes per count, decoded by np.frombuffer per task)
    pref_cols = {c: f"__pref_{i}__" for i, c in enumerate(cols)}
    pref: dict = {pref_cols[c]: ([], "binary") for c in cols}
    for c in cols:
        acc = np.zeros(len(grids[c]), dtype=np.int64)
        for b in blks:
            pref[pref_cols[c]][0].append(acc.tobytes())
            v = per.get(c, {}).get(b)
            if v is not None and len(v):
                acc = acc + v
    base = _attach_table(base, F.col(BLK), pref, slots=[int(b) for b in blks])
    in_schema = base.schema

    CH = 2048  # chunk rows: CH×n_grid one-hot cumsum stays ~16 MB

    def evaluate(key, pdf):
        pdf = pdf.sort_values(OC)
        for c in cols:
            E = grids[c]
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            n = len(x)
            out = np.full(n, np.nan)
            if len(E) == 0 or n == 0:
                pdf[c] = out
                continue
            valid, j = _bins(x, E)
            jfull = np.full(n, -1, dtype=np.int64)
            jfull[valid] = j
            pv = pdf[pref_cols[c]].iloc[0] if n else None
            dec = (np.frombuffer(pv, dtype=np.int64)
                   if pv is not None else np.empty(0, dtype=np.int64))
            base_cnt = (dec.astype(np.float64) if len(dec) == len(E)
                        else np.zeros(len(E), dtype=np.float64))
            nobs0 = float(base_cnt.sum())
            nobs = nobs0 + np.cumsum(valid.astype(np.float64))
            k = np.floor(q * (nobs - 1.0)) + 1.0  # lower order statistic
            for s in range(0, n, CH):
                t = min(n, s + CH)
                oh = np.zeros((t - s, len(E)))
                jj = jfull[s:t]
                m = jj >= 0
                oh[np.nonzero(m)[0], jj[m]] = 1.0
                cum = np.cumsum(oh, axis=0) + base_cnt
                csum = np.cumsum(cum, axis=1)
                hit = csum >= k[s:t, None]
                idx = np.argmax(hit, axis=1)
                ok = hit[np.arange(t - s), idx]
                out[s:t] = np.where(ok, E[idx], np.nan)
                base_cnt = cum[-1]
            mask = nobs >= max(min_periods, 1)
            out = np.where(mask & (nobs > 0), out, np.nan)
            pdf[c] = out
        return pdf

    out = _pass_evaluate(base, evaluate, in_schema, aligned)
    return out.drop(BLK, OC, *pref_cols.values())


def expanding_quantile_approx_grouped(sdf: SparkDataFrame, order_col: Column,
                                      keys: list[str], cols: list[str],
                                      q: float, n_grid: int = 1024,
                                      min_periods: int = 1,
                                      n_blocks: int | None = None) -> SparkDataFrame:
    """Grouped variant of ``expanding_quantile_approx_blocked`` for the
    FEW groups the caller identified as too large for the exact
    per-key window (window.py routes groups above ``approx_threshold``
    here and keeps the exact percentile window for the rest — r8
    VERDICT stretch #7). Same contract per group: a per-GROUP
    ``n_grid``-point equi-depth value grid (one grouped
    percentile_approx job, ≤K rows), exact rank accounting via packed
    int64 bincount vectors per (group, block), driver prefix-sums per
    group, pass 2 replays exact running counts and picks the lower
    order statistic k = floor(q·(nobs−1)) + 1. Driver/broadcast
    footprint is K·P·n_grid·8 bytes — the caller caps K, and every
    giant group fans out over ALL order blocks instead of one task.
    Replaces ``cols`` in place (double)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

    def _norm(v):
        return v.item() if hasattr(v, "item") else v

    mono = _is_order_id(order_col)
    OC = "__ord__"
    sdf = _pin_if_order(sdf, order_col)
    for c in cols:
        sdf = sdf.withColumn(c, F.col(c).cast("double"))

    probs = _lit_array((i / n_grid for i in range(1, n_grid + 1)), "double")
    grows = (sdf.groupBy(*keys)
             .agg(*[F.percentile_approx(F.col(c), probs,
                                        F.lit(max(10_000, 4 * n_grid)))
                    .alias(c) for c in cols]).collect())
    grids: dict = {}
    for r in grows:
        gk = tuple(_norm(r[k]) for k in keys)
        for c in cols:
            es = [e for e in (r[c] or []) if e is not None]
            grids[(gk, c)] = np.unique(np.asarray(es, dtype=np.float64))

    base = block_partition(sdf.withColumn(OC, order_col), F.col(OC), n_blocks,
                           monotonic_id=mono)
    key_fields = [f for f in base.schema.fields if f.name in keys]
    sum_schema = StructType(
        key_fields
        + [StructField("__b__", LongType()), StructField("__col__", StringType()),
           StructField("__cnts__", BinaryType())])

    def _bins(x, E):
        valid = ~np.isnan(x)
        j = np.searchsorted(E, x[valid], side="left")
        return valid, np.minimum(j, len(E) - 1)

    def summarize(key, pdf):
        gk = tuple(_norm(v) for v in key[:-1])
        b = int(key[-1])
        rows = []
        for c in cols:
            E = grids.get((gk, c), np.empty(0))
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            if len(E) == 0:
                rows.append(tuple(key[:-1]) + (b, c, b""))
                continue
            _, j = _bins(x, E)
            rows.append(tuple(key[:-1])
                        + (b, c, np.bincount(j, minlength=len(E))
                           .astype(np.int64).tobytes()))
        return pd.DataFrame(rows, columns=[f.name for f in sum_schema.fields])

    # pass 1 ships only (keys, block id, value columns) — see the
    # ungrouped variant's width-pruning note (guide §4.1)
    summaries = (base.select(*keys, BLK, *cols).groupBy(*keys, BLK)
                 .applyInPandas(summarize, schema=sum_schema).collect())
    per: dict = {}
    gk_blks: dict = {}
    for r in summaries:
        gk = tuple(_norm(r[k]) for k in keys)
        per.setdefault((gk, r["__col__"]), {})[r["__b__"]] = np.frombuffer(
            r["__cnts__"] or b"", dtype=np.int64)
        gk_blks.setdefault(gk, set()).add(r["__b__"])

    pref_cols = {c: f"__gpref_{i}__" for i, c in enumerate(cols)}
    pref: dict = {pref_cols[c]: ([], "binary") for c in cols}
    slots = []
    for gk, bset in sorted(gk_blks.items(), key=lambda t: str(t[0])):
        accs = {c: np.zeros(len(grids.get((gk, c), ())), dtype=np.int64)
                for c in cols}
        for b in sorted(bset):
            slots.append(tuple(gk) + (int(b),))
            for c in cols:
                pref[pref_cols[c]][0].append(accs[c].tobytes())
                v = per.get((gk, c), {}).get(b)
                if v is not None and len(v) and len(v) == len(accs[c]):
                    accs[c] = accs[c] + v
    # keyed by (group keys, block): a struct key, matched null-safely
    aug = _attach_table(base, F.struct(*keys, BLK), pref, slots=slots)
    in_schema = aug.schema

    CH = 2048

    def evaluate(key, pdf):
        gk = tuple(_norm(v) for v in key[:-1])
        pdf = pdf.sort_values(OC)
        for c in cols:
            E = grids.get((gk, c), np.empty(0))
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            n = len(x)
            out = np.full(n, np.nan)
            if len(E) == 0 or n == 0:
                pdf[c] = out
                continue
            valid, j = _bins(x, E)
            jfull = np.full(n, -1, dtype=np.int64)
            jfull[valid] = j
            pv = pdf[pref_cols[c]].iloc[0] if n else None
            dec = (np.frombuffer(pv, dtype=np.int64)
                   if pv is not None else np.empty(0, dtype=np.int64))
            base_cnt = (dec.astype(np.float64) if len(dec) == len(E)
                        else np.zeros(len(E), dtype=np.float64))
            nobs0 = float(base_cnt.sum())
            nobs = nobs0 + np.cumsum(valid.astype(np.float64))
            k = np.floor(q * (nobs - 1.0)) + 1.0
            for st in range(0, n, CH):
                t = min(n, st + CH)
                oh = np.zeros((t - st, len(E)))
                jj = jfull[st:t]
                m = jj >= 0
                oh[np.nonzero(m)[0], jj[m]] = 1.0
                cum = np.cumsum(oh, axis=0) + base_cnt
                csum = np.cumsum(cum, axis=1)
                hit = csum >= k[st:t, None]
                idx = np.argmax(hit, axis=1)
                ok = hit[np.arange(t - st), idx]
                out[st:t] = np.where(ok, E[idx], np.nan)
                base_cnt = cum[-1]
            mask = nobs >= max(min_periods, 1)
            out = np.where(mask & (nobs > 0), out, np.nan)
            pdf[c] = out
        return pdf

    out = aug.groupBy(*keys, BLK).applyInPandas(evaluate, schema=in_schema)
    return out.drop(BLK, OC, *pref_cols.values())


def running_pick_blocked(sdf: SparkDataFrame, order_by: list[Column],
                         cols: list[str] | None = None, back: bool = True,
                         prefix: str | None = None,
                         block_key: Column | None = None,
                         n_blocks: int | None = None,
                         picks: list | None = None,
                         carry_order: Column | None = None,
                         sid_stats=None) -> SparkDataFrame:
    """Distributed running last-non-null (``back``) / first-non-null
    pick over a GLOBAL ordering — the kernel of the no-``by`` as-of
    join (reference ``merge.py:229`` requires sorted input and scans
    once; the single-partition Spark analog is the scale-killer).

    Blocks derive from split points of ``block_key`` (numeric, must
    lead ``order_by``): equal keys share a block, so within-block
    order over the full ``order_by`` plus a per-block carry reproduces
    the global pick exactly. Adds ``{prefix}{col}`` columns.

    ``picks`` (r9): ``[(cols, back, prefix), ...]`` computes EVERY
    requested pick in ONE pass — both directions share the single
    ascending sort (the forward pick is first-non-null over
    ``(currentRow, unboundedFollowing)``), so whole-frame interpolate
    and nearest-resample stop paying a second exchange+window pass.
    The cross-block carries stay LAZY subtrees (unlike
    expanding_blocked's r9 driver-collected tables): deriving a carry
    needs the pick WINDOW itself, so a build-time collect would run
    the full window pass twice — measured 2× warm regressions — while
    the lazy subtree shares the main pass's exchange (ReusedExchange).
    """
    if block_key is None:
        raise ValueError("running_pick_blocked needs the numeric leading key")
    if picks is None:
        picks = [(cols, back, prefix)]
    # each pick may carry its OWN in-partition ordering as a 4th
    # element (merge_asof nearest: the backward and forward picks
    # break on-key ties differently) — every ordering must share the
    # leading block key, so all picks still ride ONE block exchange
    # with one sort per distinct ordering
    picks = [tuple(pk) + ((order_by,) if len(pk) == 3 else ())
             for pk in picks]
    mono_key = _is_order_id(block_key)
    nb_known: int | None = None  # driver-known block count (value-keyed)
    if carry_order is not None and not mono_key:
        # Value-keyed fast-carry inputs (the no-by merge_asof union)
        # are materialized BEFORE the split-bounds job, so bounds, the
        # totals collect and the main window action all read one stored
        # relation instead of each re-running scan+union (r14; the
        # mono-id layouts arrive here already frozen by _pin_if_order —
        # same registry and storage budget as every other blocked
        # kernel input, SCALE.md "Session storage budget").
        sdf = I.materialize(sdf)
        bounds, total = _split_bounds(sdf, block_key,
                                      n_blocks or _n_blocks(sdf),
                                      with_count=True)
        base = _attach_block(sdf, block_key, bounds)
        nb_known = len(bounds) + 1  # _attach_block ids are 0..len(bounds)
        # Cost-based carry strategy (r14, the broadcast-vs-SMJ analog):
        # the collect-and-fold carry trades ONE extra blocking build
        # job for not evaluating the window subtree twice inside the
        # main action. The job is a fixed driver cost; the double
        # evaluation scales with data — see _CARRY_FAST_MIN_ROWS for
        # the measured crossover. Below the threshold the lazy
        # shared-exchange carry stays (over the leaf it reads stored
        # rows). The count rides the bounds job for free.
        if total < _CARRY_FAST_MIN_ROWS:
            carry_order = None
    else:
        base = block_partition(sdf, block_key, n_blocks,
                               monotonic_id=mono_key,
                               sid_stats=sid_stats)

    aug = base
    loc_exprs: dict[str, Column] = {}
    for i, (cols_i, back_i, pfx_i, ord_i) in enumerate(picks):
        if back_i:
            wl = (W.partitionBy(BLK).orderBy(*ord_i)
                  .rowsBetween(W.unboundedPreceding, W.currentRow))
            fn = F.last
        else:
            wl = (W.partitionBy(BLK).orderBy(*ord_i)
                  .rowsBetween(W.currentRow, W.unboundedFollowing))
            fn = F.first
        for c in cols_i:
            loc_exprs[f"__loc_{pfx_i}{c}"] = fn(
                F.col(c), ignorenulls=True).over(wl)
    aug = aug.withColumns(loc_exprs)
    if carry_order is not None:
        # Fast carry path (r13; generalized r14) — the caller asserts
        # that RESTRICTED TO ROWS WHERE THE PICKED COLUMNS ARE NON-NULL,
        # every pick's ordering is plain ascending ``carry_order`` with
        # UNIQUE key values. Rows whose picked value is null never
        # contribute to a block total (the picks are last/first
        # IGNORENULLS), so the orderings only need to agree on the
        # non-null rows — merge_asof's orderings mix asc/desc ``__src__``
        # terms, but among right rows (the only non-null ``__rrow__``
        # rows) ``__src__`` is constant and the ordering collapses to
        # ascending ``struct(__onv__, __rord__)``, which max_by/min_by
        # order exactly like the window (struct comparison is
        # lexicographic with null fields FIRST, matching asc_nulls_first
        # — verified, tests/test_distwindow.py). The per-block pick
        # totals are then direct aggregates
        # (max_by/min_by of the value at the extreme valid key — the
        # window pass is NOT needed to derive them), collected once and
        # prefix-folded on the driver like expanding_blocked's carries.
        # This removes the lazy-carry machinery below — per-pick
        # row_number windows, the edge filter, the grouped summary and
        # its ≤P-row global window — which re-evaluated the whole
        # window subtree a second time inside the main action (the
        # summary branch shares the exchange via ReusedExchange but
        # not the window computation). Plan: one window pass + one
        # broadcast join (guide §1.2/§2.4).
        # The totals job reads ONLY what it aggregates (r14, guide §2.3
        # "project before the exchange" / §1.2): the projection drops
        # every column the picks don't touch (the window pass needs
        # them; this one-off build job does not). When the block count
        # is driver-known (``nb_known``, the value-keyed layouts) the
        # input is ALSO filtered to rows whose picked columns are
        # non-null — they contribute to no pick (their max_by/min_by
        # key is null), and for merge_asof's union-tagged input the
        # predicate constant-folds to `__src__ = 1` per branch, pruning
        # the entire LEFT branch out of the totals job. Blocks the
        # filter empties out are re-seated by the fold below, which
        # iterates ALL nb_known block ids, so an all-null block still
        # inherits the running carry instead of a NULL filler
        # (tests/test_r14_opts.py::test_fast_carry_all_null_block_inherits_fold
        # caught exactly that regression when the filter ran without
        # the full-range fold). Without nb_known the filter must stay
        # off: a dropped block would vanish from the fold entirely.
        pick_cols_all = sorted({c for cols_i, _b, _p, _o in picks
                                for c in cols_i})
        tot_in = base.withColumn("__ck__", carry_order)
        if nb_known is not None:
            contributes = None
            for c in pick_cols_all:
                e = F.col(c).isNotNull()
                contributes = e if contributes is None else (contributes | e)
            tot_in = tot_in.where(contributes)
        tot_in = tot_in.select(BLK, "__ck__", *pick_cols_all)
        tot_aggs = []
        for i, (cols_i, back_i, pfx_i, _ord_i) in enumerate(picks):
            agg = F.max_by if back_i else F.min_by
            for c in cols_i:
                tot_aggs.append(
                    agg(F.col(c), F.when(F.col(c).isNotNull(), F.col("__ck__")))
                    .alias(f"__tot_{pfx_i}{c}"))
        totals = tot_in.groupBy(BLK).agg(*tot_aggs)
        trows = sorted(((r[BLK], r) for r in totals.collect()),
                       key=lambda t: t[0])
        tsch = {f.name: f for f in totals.schema.fields}
        carry_specs = [(f"__car_{pfx_i}{c}", f"__tot_{pfx_i}{c}", back_i)
                       for cols_i, back_i, pfx_i, _o in picks for c in cols_i]

        # fold over EVERY block id: under the contributes filter above
        # a block can be absent from trows yet still hold data rows —
        # it must inherit the running fold, not a NULL filler
        row_of = {int(blk): r for blk, r in trows}
        blk_ids = (list(range(nb_known)) if nb_known is not None
                   else [int(blk) for blk, _ in trows])
        acc_b: dict = {nm: None for nm, _, _ in carry_specs}
        rows_by_blk: dict = {}
        for blk in blk_ids:  # ascending: back carries
            rows_by_blk[blk] = dict(acc_b)
            r = row_of.get(blk)
            if r is not None:
                for nm, tn, bk in carry_specs:
                    if bk and r[tn] is not None:
                        acc_b[nm] = r[tn]
        acc_f: dict = {nm: None for nm, _, _ in carry_specs}
        for blk in reversed(blk_ids):  # descending: forward carries
            for nm, tn, bk in carry_specs:
                if not bk:
                    rows_by_blk[blk][nm] = acc_f[nm]
            r = row_of.get(blk)
            if r is not None:
                for nm, tn, bk in carry_specs:
                    if not bk and r[tn] is not None:
                        acc_f[nm] = r[tn]
        aug = _attach_table(
            aug, F.col(BLK),
            {nm: ([rows_by_blk[blk][nm] for blk in blk_ids], tsch[tn].dataType)
             for nm, tn, _ in carry_specs},
            slots=blk_ids)
        out_cols = {}
        drop = [BLK]
        for cols_i, _back_i, pfx_i, _ord_i in picks:
            for c in cols_i:
                out_cols[f"{pfx_i}{c}"] = F.coalesce(
                    F.col(f"__loc_{pfx_i}{c}"), F.col(f"__car_{pfx_i}{c}"))
                drop += [f"__loc_{pfx_i}{c}", f"__car_{pfx_i}{c}"]
        return aug.withColumns(out_cols).drop(*drop)
    # the block's boundary rows hold the pick over the ENTIRE block —
    # the carry seeds (last row for back picks under THAT pick's
    # ordering, first row for forward). One row number per pick;
    # identical window specs collapse into one evaluation
    cnt = F.count(F.lit(1)).over(W.partitionBy(BLK))
    aug = aug.withColumn("__cnt__", cnt)
    edge_cond = None
    for i, (_cols_i, _back_i, _pfx_i, ord_i) in enumerate(picks):
        rn = F.row_number().over(W.partitionBy(BLK).orderBy(*ord_i))
        aug = aug.withColumn(f"__rn{i}__", rn)
        c = (F.col(f"__rn{i}__") == 1) | (F.col(f"__rn{i}__") == F.col("__cnt__"))
        edge_cond = c if edge_cond is None else (edge_cond | c)
    edge = aug.filter(edge_cond)
    tot_aggs = []
    for i, (cols_i, back_i, pfx_i, _ord_i) in enumerate(picks):
        cond = (F.col(f"__rn{i}__") == F.col("__cnt__")) if back_i \
            else (F.col(f"__rn{i}__") == F.lit(1))
        for c in cols_i:
            # exactly one edge row matches cond per block, so the
            # unordered first(ignorenulls) is deterministic here
            tot_aggs.append(
                F.first(F.when(cond, F.col(f"__loc_{pfx_i}{c}")),
                        ignorenulls=True).alias(f"__tot_{pfx_i}{c}"))
    summary = edge.groupBy(BLK).agg(*tot_aggs)
    carry_cols = [F.col(BLK)]
    for cols_i, back_i, pfx_i, _ord_i in picks:
        if back_i:
            wc = W.orderBy(BLK).rowsBetween(W.unboundedPreceding, -1)
            fn = F.last
        else:
            wc = W.orderBy(BLK).rowsBetween(1, W.unboundedFollowing)
            fn = F.first
        for c in cols_i:
            carry_cols.append(fn(F.col(f"__tot_{pfx_i}{c}"), ignorenulls=True)
                              .over(wc).alias(f"__car_{pfx_i}{c}"))
    carry = summary.select(*carry_cols)
    aug = aug.join(F.broadcast(carry), BLK, "left")
    drop = ["__cnt__", BLK] + [f"__rn{i}__" for i in range(len(picks))]
    for cols_i, _back_i, pfx_i, _ord_i in picks:
        for c in cols_i:
            aug = aug.withColumn(
                f"{pfx_i}{c}",
                F.coalesce(F.col(f"__loc_{pfx_i}{c}"),
                           F.col(f"__car_{pfx_i}{c}")))
            drop += [f"__loc_{pfx_i}{c}", f"__car_{pfx_i}{c}"]
    return aug.drop(*drop)


def shift_blocked(sdf: SparkDataFrame, order_col: Column, periods: int,
                  cols: list[str], fill_value=None,
                  n_blocks: int | None = None,
                  monotonic_id: bool = False) -> SparkDataFrame:
    """Distributed ungrouped shift: borrow |periods| boundary rows.

    ``fill_value`` follows the pandas contract (generic.py shift):
    fill ONLY beyond-edge positions, never genuine data nulls. Block
    seams are invisible — the edge probe is lag/lead of a literal
    (null iff the offset row does not exist), and borrow rows supply
    the offset row everywhere except the true frame edge."""
    if periods == 0:
        return sdf

    def build(_w, ordered):
        fn = (lambda c: F.lag(c, periods)) if periods > 0 else (lambda c: F.lead(c, -periods))
        out = []
        edge = fn(F.lit(1)).over(ordered).isNull() if fill_value is not None else None
        for c in cols:
            e = fn(F.col(c)).over(ordered)  # lag/lead reject a window frame
            if fill_value is not None:
                e = F.when(edge, F.lit(fill_value)).otherwise(e)
            out.append((c, e))
        return out

    lo, hi = (-periods, 0) if periods > 0 else (0, -periods)
    return rolling_blocked(sdf, order_col, lo, hi, build,
                           monotonic_id=monotonic_id)


def rank_blocked(sdf: SparkDataFrame, col_name: str, method: str = "average",
                 ascending: bool = True, pct: bool = False,
                 na_option: str = "keep", out_name: str | None = None,
                 n_blocks: int | None = None) -> SparkDataFrame:
    """Distributed ungrouped rank (reference ``algos.pyx`` rank_1d —
    a sequential sort+scan): range-partition on the VALUE, rank per
    block, add per-block prefix offsets. Range partitioning puts every
    tie group (incl. the null group) wholly inside one block, so block
    ranks + offsets compose exactly:

    - min/first/max/average: offset = ranked-row count of earlier blocks
    - dense: offset = distinct-value (+ null-group) count of earlier
      blocks
    - pct: denominator = the same counts summed over ALL blocks
    """
    col = F.col(col_name)
    out_name = out_name or col_name
    if na_option not in ("keep", "top", "bottom"):
        raise ValueError(f"na_option={na_option!r}")
    nulls_ranked = na_option != "keep"
    nulls_first = na_option == "top"
    if ascending:
        order = col.asc_nulls_first() if nulls_first else col.asc_nulls_last()
    else:
        order = col.desc_nulls_first() if nulls_first else col.desc_nulls_last()

    n = n_blocks or _n_blocks(sdf)
    # Block key: numeric projection of the value (same driver-bounds
    # determinism contract as _split_bounds). Non-orderable-as-number
    # dtypes fall back to one block (= the exact single-window plan).
    dt = dict(sdf.dtypes).get(col_name, "")
    if dt.startswith("timestamp"):
        key = F.unix_micros(col.cast("timestamp")).cast("double")
    elif dt in ("date",):
        key = F.datediff(col, F.lit("1970-01-01")).cast("double")
    elif any(dt.startswith(p) for p in
             ("int", "bigint", "double", "float", "decimal", "smallint", "tinyint")):
        key = col.cast("double")
    else:
        key = None
    bounds = _split_bounds(sdf, key, n) if key is not None else []
    if bounds:
        null_blk = 0 if nulls_first else len(bounds)
        base = _attach_block(sdf, key, bounds, null_block=null_blk,
                             descending=not ascending)
    else:
        base = sdf.withColumn(BLK, F.lit(0))

    cnt_expr = F.count(F.lit(1)) if nulls_ranked else F.count(col)
    tiny = base.groupBy(BLK).agg(
        cnt_expr.alias("__cnt__"),
        F.countDistinct(col).alias("__nd__"),
        F.max(F.when(col.isNull(), 1).otherwise(0)).alias("__hn__"))
    # prefix offsets over the ≤P-row block table: DRIVER-COLLECTED and
    # re-shipped through ``_attach_table`` (r9) — the lazy
    # window-over-grouped form re-evaluated the upstream chain inside
    # the main action as an Exchange SinglePartition subtree.
    trows = sorted(tiny.collect(), key=lambda r: r[BLK])
    tot = sum(r["__cnt__"] for r in trows)
    dtot = (sum(r["__nd__"] for r in trows)
            + (max((r["__hn__"] for r in trows), default=0)
               if nulls_ranked else 0))
    offs, doffs, acc, dacc = [], [], 0, 0
    for r in trows:
        offs.append(acc)
        doffs.append(dacc)
        acc += r["__cnt__"]
        dacc += r["__nd__"] + (r["__hn__"] if nulls_ranked else 0)
    aug = _attach_table(base, F.col(BLK),
                        {"__off__": (offs, "bigint"),
                         "__doff__": (doffs, "bigint")},
                        slots=[int(r[BLK]) for r in trows])

    w = W.partitionBy(BLK).orderBy(order)
    w_first = W.partitionBy(BLK).orderBy(order, F.col(I.ORDER_COL))
    ties = F.count(F.lit(1) if nulls_ranked else F.when(col.isNotNull(), 1)) \
        .over(W.partitionBy(BLK, col))
    if method == "min":
        r = F.rank().over(w) + F.col("__off__")
    elif method == "dense":
        r = F.dense_rank().over(w) + F.col("__doff__")
    elif method == "first":
        r = F.row_number().over(w_first) + F.col("__off__")
    elif method == "max":
        r = F.rank().over(w) + ties - 1 + F.col("__off__")
    elif method == "average":
        lo = F.rank().over(w) + F.col("__off__")
        r = (lo.cast("double") + (lo + ties - 1).cast("double")) / 2.0
    else:
        raise ValueError(method)
    r = r.cast("double")
    if pct:
        r = r / F.lit(float(dtot if method == "dense" else tot))
    if not nulls_ranked:
        r = F.when(col.isNull(), F.lit(None)).otherwise(r)
    return aug.withColumn(out_name, r).drop(BLK, "__off__", "__doff__")


# ------------------------------------------------------------------ #
# ungrouped EWM: one blocked kernel for mean/var/std/cov/corr          #
# ------------------------------------------------------------------ #
# The reference kernels (window.pyx:1732 ewma, :1802 ewmcov) are
# sequential recursions. Each decomposes over order blocks: pass 1
# summarizes every block in parallel, the driver folds ≤P summaries,
# pass 2 evaluates every block in parallel from its exact entry state.
# Nothing sequential ever touches more than one block.
#
# A *component* is one (x, y) chain under the reference's pairwise
# is_observation validity; a one-column statistic is the (x, x)
# component. Its ``need`` set ("mean", and the covariance chains "xy",
# "xx", "yy") keeps a var-only call off the pair sums. The summary
# carries the component's observation count, so min_periods masks
# inside evaluate — no second kernel. Two chain families share the
# skeleton (``_EWM_FAMILIES``):
#
# sums    adjust=True with alpha < 1. The normalized weight depends on
#         the history's observation count, so the update is linear
#         only as discounted sums: S0, SX, SY, SXY, SXX, SYY centred at
#         the block's first observation (re-centred by the affine
#         identities at each carry) and the PAIRWISE sums
#             T = Σ_{i<j} wᵢwⱼ,  U_ab = Σ_{i<j} wᵢwⱼ (aᵢ−aⱼ)(bᵢ−bⱼ),
#         cov = U_xy/(2T), var = U_xx/(2T), corr = U_xy/√(U_xx·U_yy)
#         (the bias=True ratio: the debias factor cancels), mean =
#         ref + SX/S0. U_xx is a sum of NONNEGATIVE terms: no
#         catastrophic cancellation when the history's weight decays
#         toward machine epsilon, where the raw-sums form (and the
#         reference's own kernel) returns fp noise several % off
#         (fuzz-caught r7, seed 313370091); T > 0 is the exact
#         one-effective-observation test. T and U are per-row affine
#         chains with validity-only decay w²: each observation pairs
#         with the decayed PRIOR-only sums (the shifted arrays —
#         subtracting its own terms back out would reintroduce the
#         cancellation), so block carries stay linear.
# renorm  adjust=False, and alpha == 1 under either adjust (w = 0: both
#         keep one effective observation, p = 0). The reference's
#         per-observation update (window.pyx:1802)
#             p = W/(W+α), q = 1−p, W = w^gap,
#             mean' = p·mean + q·x,
#             cov'  = p·(cov + Δmean_x·Δmean_y) + q·(x−mean'_x)(y−mean'_y)
#         is affine in the state with validity-only coefficients. The
#         debias denominator 1−Σw² is carried as its own complement
#         dw' = p²·dw + 2pq — all-positive terms, never a 1−(≈1)
#         difference (r10: the Σw² carry was 1.4e-4 off a 60-digit
#         replication at the degenerate first-after-gap rows; dw is
#         exact there). A block's tail transition is polynomial in the
#         incoming centred means, recovered exactly by basis
#         evaluation; its first observation is one exact scalar step
#         in the fold, because its decay depends on the previous
#         blocks' trailing gap.


def _ewma_adjust_parts(x, valid, w: float, ignore_na: bool):
    """Vectorized standalone discounted sums for adjust=True, 0 < w < 1.

    Returns (num, den, decay) arrays: num/den from zero state, decay[t]
    = w^{E_t} — the factor an incoming state carries at row t. Chunked
    so w^{-e} never overflows; underflow of decay is semantically the
    negligible weight of old data."""
    import math

    import numpy as np

    n = len(x)
    num = np.zeros(n)
    den = np.zeros(n)
    decay = np.ones(n)
    if n == 0:
        return num, den, decay
    xx = np.where(valid, x, 0.0)
    v = valid.astype(np.float64)
    e = _ewms_exponents(valid, ignore_na)
    L = max(8, min(4096, int(200.0 / max(1e-12, -math.log10(w)))))
    num_c = den_c = 0.0
    dec_c = 1.0
    for s in range(0, n, L):
        t = min(n, s + L)
        e0 = e[s - 1] if s else 0.0
        ee = e[s:t] - e0                       # chunk-local exponents
        wneg = np.power(w, -(ee - v[s:t]))     # w^{-E_{j-1}} within chunk
        wpos = np.power(w, ee)
        cs_n = np.cumsum(xx[s:t] * v[s:t] * wneg * (1.0 / w))
        cs_d = np.cumsum(v[s:t] * wneg * (1.0 / w))
        num[s:t] = wpos * (num_c + cs_n)
        den[s:t] = wpos * (den_c + cs_d)
        decay[s:t] = dec_c * wpos
        num_c = num[t - 1]
        den_c = den[t - 1]
        dec_c = decay[t - 1]
    return num, den, decay


def _chain_solve(p, r, init=0.0):
    """Vectorized s_j = p_j*s_{j-1} + r_j with s_{-1}=init, 0 <= p_j < 1.

    Log-space chunking keeps the cumulative-product trick in fp range:
    chunks are cut when the accumulated decay exceeds e^-250 (older
    contributions are < 1e-108 relative — below double noise). A step
    with p_j below 2^-52 runs alone as an exact scalar step: inside a
    chunk it would be cp·(carry + r/cp), which rounds the carry away —
    an absolute error of eps·|r| where the true s_j − r_j is only
    p_j·carry (after a long gap, adjust=False's x − mean is that small,
    and the blown-up error reached var ≈ 1e64). A run of exact zeros
    (resets) is s = r."""
    import numpy as np

    k = len(p)
    out = np.empty(k, dtype=np.float64)
    if k == 0:
        return out
    tiny = p < 2.0 ** -52
    lp = np.where(tiny, -1e9, np.log(np.where(tiny, 1.0, p)))
    cl = np.cumsum(-lp)
    nonzero = np.flatnonzero(p != 0.0)
    carry = float(init)
    start = 0
    CLOG = 250.0
    while start < k:
        if p[start] == 0.0:
            i = int(np.searchsorted(nonzero, start))
            stop = int(nonzero[i]) if i < len(nonzero) else k
            out[start:stop] = r[start:stop]
            carry = float(out[stop - 1])
            start = stop
            continue
        base = cl[start - 1] if start else 0.0
        stop = int(np.searchsorted(cl, base + CLOG, side="right"))
        if stop <= start:
            out[start] = p[start] * carry + r[start]
            carry = out[start]
            start += 1
            continue
        lcp = np.cumsum(lp[start:stop])
        cp = np.exp(lcp)
        s = cp * (carry + np.cumsum(r[start:stop] / cp))
        out[start:stop] = s
        carry = float(s[-1])
        start = stop
    return out


# ---- sums family (adjust=True, alpha < 1) ---------------------------

_EWMS_SUMS = ("s0", "sx", "sy", "sxy", "sxx", "syy")
# pairwise chain -> its product sum
_EWMS_PAIRS = {"xy": "sxy", "xx": "sxx", "yy": "syy"}


def _ewms_sums(x, y, valid, need, rx, ry, w, ignore_na):
    """One block's local discounted sums centred at (rx, ry) — only
    those ``need`` reads — plus the centred operands and the decay."""
    import numpy as np

    xc = np.where(valid, x - rx, 0.0)
    yc = np.where(valid, y - ry, 0.0)

    def disc(v):
        return _ewma_adjust_parts(v, valid, w, ignore_na)[0]

    sx, s0, dec = _ewma_adjust_parts(xc, valid, w, ignore_na)
    S = {"s0": s0, "sx": sx}
    if need & {"xy", "yy"}:
        S["sy"] = disc(yc)
    if "xy" in need:
        S["sxy"] = disc(xc * yc)
    if "xx" in need:
        S["sxx"] = disc(xc * xc)
    if "yy" in need:
        S["syy"] = disc(yc * yc)
    return S, xc, yc, dec


def _ewms_terms(pair, xc, yc):
    """How one row's pairwise-chain input reads the centred PRIOR sums
    besides the pair's product sum (factor 1): r = P_ab + Σ factor·P_k,
    the new observation paired with the decayed prior mass."""
    if pair == "xy":
        return {"sx": -yc, "sy": -xc, "s0": xc * yc}
    a, k = (xc, "sx") if pair == "xx" else (yc, "sy")
    return {k: -2.0 * a, "s0": a * a}


def _ewms_r(pair, xc, yc, P):
    r = P[_EWMS_PAIRS[pair]]
    for k, f in _ewms_terms(pair, xc, yc).items():
        r = r + f * P[k]
    return r


def _ewms_exponents(valid, ignore_na):
    import numpy as np

    if ignore_na:
        return np.cumsum(valid.astype(np.float64))
    return np.arange(1, len(valid) + 1, dtype=np.float64)


def _ewms_summary(x, y, valid, need, alpha, ignore_na):
    """Block summary from zero state: end sums, total decay, centring
    refs, and the pairwise chains' end values plus their coefficients
    against every incoming sum (the carry stays linear)."""
    import numpy as np

    w = 1.0 - alpha
    if not valid.any():
        return {"dec": w ** (0 if ignore_na else len(x))}
    fv = int(np.argmax(valid))
    rx, ry = float(x[fv]), float(y[fv])
    S, xc, yc, dec = _ewms_sums(x, y, valid, need, rx, ry, w, ignore_na)
    out = {k: float(a[-1]) for k, a in S.items()}
    out.update(dec=float(dec[-1]), rx=rx, ry=ry)
    pairs = need & _EWMS_PAIRS.keys()
    if pairs:
        e = _ewms_exponents(valid, ignore_na)
        sd = w ** np.diff(e, prepend=0.0)
        # wv folds each row to the block end; an incoming sum appears
        # inside r_t as sd_t·dec_{t-1}·S_in = dec_t·S_in
        wv = w ** (2.0 * (e[-1] - e)) * valid
        wd = wv * dec
        P = {k: sd * np.concatenate(([0.0], a[:-1])) for k, a in S.items()}
        out["ta"] = float(np.sum(wv * P["s0"]))
        out["tb"] = float(np.sum(wd))
        for pair in pairs:
            out[f"u{pair}"] = float(np.sum(wv * _ewms_r(pair, xc, yc, P)))
            for k, f in _ewms_terms(pair, xc, yc).items():
                out[f"u{pair}_{k}"] = float(np.sum(wd * f))
    return out


def _ewms_fold(st, s, n, k, alpha, ignore_na):
    """Entry state of this block (sums re-centred at its refs) and the
    state after it; the summary's decay already holds alpha and the gap
    rule."""
    st = dict(st or {"rx": None, "t": 0.0, "uxy": 0.0, "uxx": 0.0,
                     "uyy": 0.0, **dict.fromkeys(_EWMS_SUMS, 0.0)})
    if k:
        ref = (s["rx"], s["ry"])
    else:
        ref = (st["rx"], st["ry"]) if st["rx"] is not None else (0.0, 0.0)
    if st["rx"] is not None and (st["rx"], st["ry"]) != ref:
        dx, dy = st["rx"] - ref[0], st["ry"] - ref[1]
        st["sxy"] = st["sxy"] + dy * st["sx"] + dx * st["sy"] + dx * dy * st["s0"]
        st["sxx"] = st["sxx"] + 2.0 * dx * st["sx"] + dx * dx * st["s0"]
        st["syy"] = st["syy"] + 2.0 * dy * st["sy"] + dy * dy * st["s0"]
        st["sx"] = st["sx"] + dx * st["s0"]
        st["sy"] = st["sy"] + dy * st["s0"]
    st["rx"], st["ry"] = ref
    entry = dict(st)
    dec = s.get("dec", 1.0)
    d2 = dec * dec
    tb = s.get("tb", 0.0)
    # T/U first: their carry terms read the INCOMING sums
    st["t"] = d2 * st["t"] + s.get("ta", 0.0) + tb * st["s0"]
    for pair, prod in _EWMS_PAIRS.items():
        u = d2 * st[f"u{pair}"] + s.get(f"u{pair}", 0.0)
        for r in ("sx", "sy", "s0"):
            u = u + s.get(f"u{pair}_{r}", 0.0) * st[r]
        st[f"u{pair}"] = u + tb * st[prod]
    for key in _EWMS_SUMS:
        st[key] = s.get(key, 0.0) + dec * st[key]
    return entry, st


def _ewms_evaluate(x, y, valid, need, st, alpha, ignore_na):
    """Per-row statistics of one block from its entry state ``st``."""
    import numpy as np

    w = 1.0 - alpha
    S, xc, yc, dec = _ewms_sums(x, y, valid, need, st["rx"], st["ry"], w,
                                ignore_na)
    S = {k: a + dec * st[k] for k, a in S.items()}
    out = {}
    with np.errstate(invalid="ignore", divide="ignore"):
        if "mean" in need:
            out["mean"] = np.where(S["s0"] > 0.0, st["rx"] + S["sx"] / S["s0"],
                                   np.nan)
        pairs = need & _EWMS_PAIRS.keys()
        if not pairs:
            return out
        sd = w ** np.diff(_ewms_exponents(valid, ignore_na), prepend=0.0)
        P = {k: sd * np.concatenate(([st[k]], a[:-1])) for k, a in S.items()}
        p2 = sd * sd
        T = _chain_solve(p2, valid * P["s0"], st["t"])
        U = {pair: _chain_solve(p2, valid * _ewms_r(pair, xc, yc, P),
                                st[f"u{pair}"]) for pair in pairs}
        if "xy" in U:
            out["cov"] = np.where(T > 0.0, U["xy"] / (2.0 * T), np.nan)
        if "xx" in U:
            out["var"] = np.where(T > 0.0, np.maximum(U["xx"], 0.0) / (2.0 * T),
                                  np.nan)
        if "yy" in U:
            out["corr"] = U["xy"] / np.sqrt(np.maximum(U["xx"], 0.0)
                                            * np.maximum(U["yy"], 0.0))
    return out


# ---- renorm family (adjust=False, or alpha == 1) --------------------


def _ewmr_pq(d, alpha):
    w = 1.0 - alpha
    W = w ** d
    return W / (W + alpha), alpha / (W + alpha)


def _ewmr_scalar_step(state, x, y, d, alpha):
    """One observation of the renormalized recursion (window.pyx:1802),
    applied driver-side at a block boundary. d = decay steps since the
    previous observation."""
    mx, my, cxy, cxx, cyy, dw = state
    p, q = _ewmr_pq(d, alpha)
    # reference guards each mean INDEPENDENTLY (window.pyx:1871-1878:
    # `if mean_x != cur_x`, `if mean_y != cur_y` — modern pandas
    # ewmcov keeps the same two separate guards): a value exactly
    # repeating its running mean is not recomputed, keeping constant
    # series drift-free even when only ONE side repeats
    nmx = mx if x == mx else p * mx + q * x
    nmy = my if y == my else p * my + q * y
    ncxy = p * (cxy + (mx - nmx) * (my - nmy)) + q * (x - nmx) * (y - nmy)
    ncxx = p * (cxx + (mx - nmx) ** 2) + q * (x - nmx) ** 2
    ncyy = p * (cyy + (my - nmy) ** 2) + q * (y - nmy) ** 2
    return nmx, nmy, ncxy, ncxx, ncyy, p * p * dw + 2.0 * p * q


def _ewmr_cov_input(which, p, q, xo, yo, mx, my, mx0, my0):
    """Per-observation input of one covariance chain given the mean
    chains (and their incoming values mx0/my0)."""
    import numpy as np

    mxm1 = np.concatenate(([mx0], mx[:-1]))
    if which == "xx":
        return p * (mxm1 - mx) ** 2 + q * (xo - mx) ** 2
    mym1 = np.concatenate(([my0], my[:-1]))
    if which == "yy":
        return p * (mym1 - my) ** 2 + q * (yo - my) ** 2
    return p * (mxm1 - mx) * (mym1 - my) + q * (xo - mx) * (yo - my)


def _ewmr_chains(xo, yo, d, alpha, cold, state, need):
    """Per-observation chains of the renormalized recursion over one
    block. xo/yo are CENTERED observation values (centering shifts both
    the data and the incoming means, to which every covariance is
    invariant — the constant-series case then stays exactly zero).
    state = centered (mx, my, cxy, cxx, cyy, dw); ignored when cold.
    Returns per-obs arrays: mx, plus my, dw and the covariance chains
    ``need`` asks for."""
    p, q = _ewmr_pq(d, alpha)
    if cold:
        p[0], q[0] = 0.0, 1.0
    mx0, my0, cxy0, cxx0, cyy0, dw0 = state
    out = {"mx": _chain_solve(p, q * xo, mx0)}
    if need & {"xy", "yy"}:
        out["my"] = _chain_solve(p, q * yo, my0)
    for which, c0 in (("xy", cxy0), ("xx", cxx0), ("yy", cyy0)):
        if which in need:
            rc = _ewmr_cov_input(which, p, q, xo, yo, out["mx"],
                                 out.get("my"), mx0, my0)
            out[which] = _chain_solve(p, rc, c0)
    if need & {"xy", "xx"}:
        out["dw"] = _chain_solve(p * p, 2.0 * p * q, dw0)
    return out


def _ewmr_tail_transition(xo, yo, d, alpha, need):
    """Block transition over the tail observations (everything after the
    block's first observation, which the fold applies as one exact
    scalar step).

    Every chain is affine in its own incoming value with a coefficient
    a = prod(p_j) that depends only on the validity pattern; the cov
    chains additionally pick up a quadratic (xx/yy) or bilinear (xy)
    correction in the incoming CENTERED means, recovered exactly by
    basis evaluation (the transition is a polynomial, so finitely many
    evaluations determine it)."""
    import numpy as np

    res = {"a": 1.0, "a2": 1.0}
    if len(xo) == 0:
        return res
    p, q = _ewmr_pq(d, alpha)
    with np.errstate(divide="ignore"):
        lp = np.where(p > 0.0, np.log(p), -np.inf)
    res["a"] = a = float(np.exp(np.sum(lp)))
    res["a2"] = a * a
    bx = _chain_solve(p, q * xo, 0.0)
    by = _chain_solve(p, q * yo, 0.0) if need & {"xy", "yy"} else None
    res["bx"] = float(bx[-1])
    if by is not None:
        res["by"] = float(by[-1])
    if need & {"xy", "xx"}:
        res["bs2"] = float(_chain_solve(p * p, 2.0 * p * q, 0.0)[-1])
    with np.errstate(invalid="ignore"):
        cp = np.exp(np.cumsum(lp))

    def covF(a0, b0, which):
        rc = _ewmr_cov_input(which, p, q, xo, yo, cp * a0 + bx,
                             None if by is None else cp * b0 + by, a0, b0)
        return float(_chain_solve(p, rc, 0.0)[-1])

    # basis scale ~ data magnitude so the finite differences don't
    # cancel significant digits
    s = max(1.0, float(np.max(np.abs(xo))), float(np.max(np.abs(yo))))
    if "xy" in need:
        f00 = covF(0.0, 0.0, "xy")
        f10 = covF(s, 0.0, "xy")
        f01 = covF(0.0, s, "xy")
        f11 = covF(s, s, "xy")
        res.update(gxy0=f00, gxy1=(f10 - f00) / s, gxy2=(f01 - f00) / s,
                   gxy3=(f11 - f10 - f01 + f00) / (s * s))
    for which, basis in (("xx", (1.0, 0.0)), ("yy", (0.0, 1.0))):
        if which in need:
            f0 = covF(0.0, 0.0, which)
            f1 = covF(s * basis[0], s * basis[1], which)
            f2 = covF(2.0 * s * basis[0], 2.0 * s * basis[1], which)
            h2 = (f2 - 2.0 * f1 + f0) / (2.0 * s * s)
            res.update({f"g{which}0": f0, f"g{which}1": (f1 - f0) / s - h2 * s,
                        f"g{which}2": h2})
    return res


def _ewmr_stat(stat, dw, xy=None, xx=None, yy=None):
    """Final statistic from chain values (arrays or scalars). The
    reference's debias factor is sw²/(sw²−sw2); the renormalized
    recursion keeps sw ≡ 1 (p+q = 1), so the denominator is exactly the
    carried complement dw = 1−sw2 — evaluated directly, never as a
    1−(≈1) difference. corr is the bias=True ratio (the factor
    cancels)."""
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        if stat == "corr":
            return np.asarray(xy) / np.sqrt(np.asarray(xx) * np.asarray(yy))
        src = xx if stat == "var" else xy
        den = np.asarray(dw, dtype=np.float64)
        return np.where(den > 0.0, np.asarray(src) / den, np.nan)


def _ewm_stats(need):
    """Statistics a component's chains yield (std is sqrt(var))."""
    return [stat for stat, chain in (("mean", "mean"), ("var", "xx"),
                                     ("cov", "xy"), ("corr", "yy"))
            if chain in need]


def _ewmr_obs(x, y, valid, ignore_na):
    """A block's observation positions, its first observation (x0, y0)
    and the decay steps between consecutive observations."""
    import numpy as np

    pos = np.flatnonzero(valid)
    d = (np.diff(pos).astype(np.float64) if not ignore_na
         else np.ones(len(pos) - 1))
    return pos, float(x[pos[0]]), float(y[pos[0]]), d


def _ewmr_summary(x, y, valid, need, alpha, ignore_na):
    """Block summary: the first observation (applied by the fold) and
    the tail transition over the rest."""
    if not valid.any():
        return {}
    pos, x0, y0, d = _ewmr_obs(x, y, valid, ignore_na)
    xo = x[pos[1:]] - x0
    yo = y[pos[1:]] - y0
    out = _ewmr_tail_transition(xo, yo, d, alpha, need)
    out.update(x0=x0, y0=y0, pos0=float(pos[0]),
               trail=float(len(x) - 1 - pos[-1]))
    return out


def _ewmr_fold(st, s, n, k, alpha, ignore_na):
    """Entry (uncentered state or None, pregap) of this block and the
    one after it: ≤P exact scalar steps + affine tail transitions."""
    st = st or (None, 0)
    state, pregap = st
    if not k:
        if (not ignore_na) and state is not None:
            pregap += n
        return st, (state, pregap)
    x0, y0 = s["x0"], s["y0"]
    if state is None:
        # after the first observation: sw = 1, dw = 1-sw2 = 0
        state = (x0, y0, 0.0, 0.0, 0.0, 0.0)
    else:
        d0 = 1.0 if ignore_na else float(pregap + s["pos0"] + 1)
        state = _ewmr_scalar_step(state, x0, y0, d0, alpha)
    g = s.get
    a = s["a"]
    cx, cy = state[0] - x0, state[1] - y0
    state = (a * cx + g("bx", 0.0) + x0,
             a * cy + g("by", 0.0) + y0,
             a * state[2] + g("gxy0", 0.0) + g("gxy1", 0.0) * cx
             + g("gxy2", 0.0) * cy + g("gxy3", 0.0) * cx * cy,
             a * state[3] + g("gxx0", 0.0) + g("gxx1", 0.0) * cx
             + g("gxx2", 0.0) * cx * cx,
             a * state[4] + g("gyy0", 0.0) + g("gyy1", 0.0) * cy
             + g("gyy2", 0.0) * cy * cy,
             s["a2"] * state[5] + g("bs2", 0.0))
    return st, (state, 0 if ignore_na else int(s["trail"]))


def _ewmr_evaluate(x, y, valid, need, st, alpha, ignore_na):
    """Per-row statistics of one block from its entry ``st``: every
    chain runs over the observations, rows between them keep the last
    observation's value (the incoming one before the first)."""
    import numpy as np

    state, pregap = st
    n = len(x)
    stats = _ewm_stats(need)
    if state is None:
        vin = dict.fromkeys(stats, np.nan)
    else:
        vin = {"mean": state[0]}
        vin.update({stat: float(_ewmr_stat(stat, state[5], state[2],
                                           state[3], state[4]))
                    for stat in stats if stat != "mean"})
    if not valid.any():
        return {stat: np.full(n, vin[stat]) for stat in stats}
    pos, x0, y0, d = _ewmr_obs(x, y, valid, ignore_na)
    if state is None:
        d0 = 1.0
        cstate = (0.0,) * 6
    else:
        d0 = 1.0 if ignore_na else float(pregap + pos[0] + 1)
        cstate = (state[0] - x0, state[1] - y0) + tuple(state[2:])
    ch = _ewmr_chains(x[pos] - x0, y[pos] - y0, np.concatenate(([d0], d)),
                      alpha, state is None, cstate, need)
    idx = np.searchsorted(pos, np.arange(n), side="right")
    out = {}
    for stat in stats:
        obs = (ch["mx"] + x0 if stat == "mean" else
               _ewmr_stat(stat, ch.get("dw"), ch.get("xy"), ch.get("xx"),
                          ch.get("yy")))
        out[stat] = np.concatenate(([vin[stat]], obs))[idx]
    return out


# family -> (summary, fold, evaluate)
_EWM_FAMILIES = {
    "sums": (_ewms_summary, _ewms_fold, _ewms_evaluate),
    "renorm": (_ewmr_summary, _ewmr_fold, _ewmr_evaluate),
}
_EWM_NEED = {"mean": {"mean"}, "var": {"xx"}, "std": {"xx"}, "cov": {"xy"},
             "corr": {"xy", "xx", "yy"}}


def ewm_blocked(sdf: SparkDataFrame, order_col: Column, specs, alpha: float,
                adjust: bool, ignore_na: bool, min_periods: int = 0,
                n_blocks: int | None = None) -> SparkDataFrame:
    """Distributed ungrouped EWM: every statistic and adjust mode on one
    layout, one summary pass, one driver fold and one evaluate pass.

    specs: list of (stat, x, y, out) with stat in mean/var/std/cov/corr;
    a one-column statistic passes y == x. out == an input column
    replaces it in place; input columns come back as double. Rows with
    fewer than min_periods observations of their component (pairwise
    for cov/corr) are NaN."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   MapType, StringType, StructField,
                                   StructType)

    needs: dict[tuple, set] = {}
    for stat, cx, cy, _ in specs:
        needs.setdefault((cx, cy), set()).update(_EWM_NEED[stat])
    comps = sorted(needs.items())
    outs = [[(stat, oc) for stat, cx, cy, oc in specs if (cx, cy) == comp]
            for comp, _ in comps]
    summary, fold, evaluate_comp = _EWM_FAMILIES[
        "sums" if adjust and alpha < 1.0 else "renorm"]
    minp = max(int(min_periods), 1)
    cols = sorted({c for (cx, cy), _ in comps for c in (cx, cy)})

    OC = "__ord__"
    sdf = _pin_if_order(sdf, order_col)
    base, aligned, _ = _blocked_base(sdf, order_col, n_blocks,
                                     _is_order_id(order_col))
    base = base.withColumns({c: F.col(c).cast("double") for c in cols})
    in_schema = base.schema

    def _obs(pdf, cx, cy):
        x = pdf[cx].to_numpy(dtype=np.float64, na_value=np.nan)
        y = x if cy == cx else pdf[cy].to_numpy(dtype=np.float64,
                                                na_value=np.nan)
        return x, y, ~(np.isnan(x) | np.isnan(y))

    sum_schema = StructType([
        StructField("b", LongType()), StructField("comp", IntegerType()),
        StructField("n", LongType()), StructField("k", LongType()),
        StructField("s", MapType(StringType(), DoubleType()))])

    def summarize(key, pdf):
        pdf = pdf.sort_values(OC)
        rows = []
        for i, ((cx, cy), need) in enumerate(comps):
            x, y, valid = _obs(pdf, cx, cy)
            rows.append((int(key[0]), i, len(pdf), int(valid.sum()),
                         summary(x, y, valid, need, alpha, ignore_na)))
        return pd.DataFrame(rows, columns=sum_schema.fieldNames())

    # pass 1 ships only (block id, order, input columns) — guide §4.1
    per = {(r["comp"], r["b"]): r for r in
           _pass_summaries(base, [BLK, OC, *cols], summarize, sum_schema,
                           aligned)}
    blks = sorted({b for _, b in per})
    entries = {}
    for i in range(len(comps)):
        st, nobs = None, 0
        for b in blks:
            r = per[i, b]
            entry, st = fold(st, r["s"], r["n"], r["k"], alpha, ignore_na)
            entries[i, b] = (entry, nobs)
            nobs += r["k"]

    out_schema = StructType(
        in_schema.fields + [StructField(oc, DoubleType())
                            for oc in dict.fromkeys(sp[3] for sp in specs)
                            if oc not in in_schema.fieldNames()])

    def evaluate(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        res = {}
        for i, ((cx, cy), need) in enumerate(comps):
            x, y, valid = _obs(pdf, cx, cy)
            entry, nobs = entries[i, b]
            vals = evaluate_comp(x, y, valid, need, entry, alpha, ignore_na)
            ok = nobs + np.cumsum(valid) >= minp
            for stat, oc in outs[i]:
                v = vals["var" if stat == "std" else stat]
                res[oc] = np.where(ok, np.sqrt(v) if stat == "std" else v,
                                   np.nan)
        for oc, v in res.items():
            pdf[oc] = v
        return pdf

    out = _pass_evaluate(base, evaluate, out_schema, aligned)
    return out.drop(BLK, OC)
