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
determinism. The DataFrame kernels keep plan size O(1) in the block
count: a monotonic order id maps to blocks via a broadcast ≤P-row
sid table (``_block_partition_monotonic``); value-derived keys probe
ONE broadcast bounds array with an unrolled O(log P) binary search
(``_attach_block``); carries are ≤P-row tables DRIVER-COLLECTED at
build time and re-shipped as broadcast relations (r9 — lazy carry
subtrees re-executed the upstream chain once per statistic inside the
main action). Driver-built tables are memoized by content
(``_memo_table``) so rebuilt plans canonicalize equal and the
pin_order cache hits across runs. Only rolling's monotonic
subdividing layout (see ``_n_blocks``) still embeds per-partition
literals and stays capped at 256 blocks (``_n_blocks(lit=True)``).
Series order ops (shift/diff/cum*/rank/rolling/expanding) and row
positions run on these same kernels: the result lands as an internal
column of the Series' anchor frame (``Frame._augment``), so there is
one engine per op at every parallelism. Then:

- **rolling** (bounded frame, ``rowsBetween(lo, hi)`` or µs
  ``rangeBetween``): boundary rows reach every block whose windows
  need them via a broadcast join against the P-row block table (exact
  under any block-size skew), the SAME window expression evaluates per
  block, borrowed rows are dropped. Any aggregate works.
- **expanding / cum* / rank**: per-block partials + a P-row prefix
  carry/offset table broadcast back. Decomposable aggregates only
  (sum/count/min/max and what derives from running sums: mean,
  var/std via ΣX/ΣX², prod via log+sign; rank/dense-rank offsets).
- **running picks** (no-``by`` as-of join, global ffill): block-local
  last/first-non-null + cross-block carry.
- **shift**: borrow ``k`` boundary rows, ``lag``/``lead`` per block.

Every step is a deterministic DataFrame op: one hash exchange on the
block id (the window's own), per-block sorts, and a P-row broadcast.
No driver-side data beyond the split points and the carry table.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import Column, DataFrame as SparkDataFrame, Window as W, functions as F

from .. import _internal as I

BLK = "__blk__"
BORROW = "__borrow__"

# Above this block count, literal CASE lookups are replaced by a
# broadcast join against the (P-row) block table: literal plans grow
# linearly with P and blow past codegen limits on real clusters, while
# the join keeps plan size constant at any partition count.
_LIT_MAX = 64


def _rolling_monotonic_joined(base0: SparkDataFrame, OC: str, sid, off,
                              lo, hi, build, n_params: int,
                              ids: list, counts: dict):
    """rolling_blocked, large-P variant: blocks = source partitions,
    block metadata attached by ONE broadcast join against a driver-
    built P-row table (no literals, plan size independent of P).
    Within a partition the offset bits ARE the block-local position,
    so borrow membership is a scalar comparison against the joined
    block row count; each boundary row explodes into its (single)
    neighbor destination. Returns None when some interior block is
    narrower than the window reach (the caller's literal path handles
    that spill — it only occurs on data small enough to subdivide)."""
    need_prev = max(-lo, 0) if isinstance(lo, int) else 0
    need_next = max(hi, 0) if isinstance(hi, int) else 0
    nb = len(ids)
    if need_prev and any(counts[s] < need_prev for s in ids[1:]):
        return None
    if need_next and any(counts[s] < need_next for s in ids[:-1]):
        return None

    spark = base0.sparkSession
    tbl = _memo_table(
        spark, [(int(s), d, int(counts[s])) for d, s in enumerate(ids)],
        "__sid__ long, __dblk__ int, __bcnt__ long")
    aug = (base0.withColumn("__sid__", sid).withColumn("__off__", off)
           .join(F.broadcast(tbl), "__sid__"))

    ST = "array<struct<d:int,bw:boolean>>"
    own = F.array(F.struct(F.col("__dblk__").alias("d"),
                           F.lit(False).alias("bw")))
    parts = [own]
    empty = F.array().cast(ST)
    if need_prev:
        cond = (F.col("__dblk__") < nb - 1) & \
            (F.col("__off__") >= F.col("__bcnt__") - need_prev)
        parts.append(F.when(cond, F.array(F.struct(
            (F.col("__dblk__") + 1).alias("d"),
            F.lit(True).alias("bw")))).otherwise(empty))
    if need_next:
        cond = (F.col("__dblk__") > 0) & (F.col("__off__") < need_next)
        parts.append(F.when(cond, F.array(F.struct(
            (F.col("__dblk__") - 1).alias("d"),
            F.lit(True).alias("bw")))).otherwise(empty))
    aug = (aug.withColumn("__cp__", F.explode(F.concat(*parts)))
           .withColumn(BLK, F.col("__cp__.d"))
           .withColumn(BORROW, F.col("__cp__.bw"))
           .drop("__cp__", "__sid__", "__off__", "__dblk__", "__bcnt__"))

    ordered = W.partitionBy(BLK).orderBy(F.col(OC).asc())
    w = ordered.rowsBetween(lo, hi)
    cols = build(w, ordered) if n_params >= 2 else build(w)
    for name, expr in cols:
        aug = aug.withColumn(name, expr)
    return aug.filter(~F.col(BORROW)).drop(BLK, BORROW, OC)



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
    differently run-over-run — every pin_order persist then MISSED and
    leaked one cache entry per kernel per run (r9; measured +6
    persisted RDDs per warm re-run of the moments chain). Callers
    whose sdf may lack ORDER_COL should pass their own ``order_by``
    (the blocked expanding-moments engine passes its order key,
    covering caller-supplied epoch layouts); the window.py callers
    operate on Frame sdfs, which always carry the engine id. The
    anchor requirement is ASSERTED (r12, VERDICT r11 #2): an
    unanchored sample keeps results exact (shift-invariance) but
    makes re-built plans hash differently run-over-run, leaking one
    pin entry per kernel per run — the contract is self-enforcing,
    not docstring-enforced."""
    import math

    cols = list(dict.fromkeys(cols))  # cov(x, x) passes a duplicate
    anchor = (F.col(I.ORDER_COL) if I.ORDER_COL in sdf.columns
              else order_by)
    if anchor is None:
        # hard raise, not assert: python -O strips asserts and the
        # unanchored path would silently leak one pin per kernel per
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
# only costs a downstream pin_order miss if the SAME content is
# rebuilt later (one extra persist entry) — correctness is unaffected.
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


def _memo_table(spark, rows, schema) -> SparkDataFrame:
    """``createDataFrame`` for tiny driver-built tables (block ids,
    split bounds, carries), memoized by CONTENT. Python-built
    DataFrames are RDD-backed (LogicalRDD), which canonicalizes by RDD
    identity — two builds of the SAME table hash differently, so every
    downstream semanticHash-keyed ``pin_order`` persist missed on
    re-built plans and leaked one cache entry per kernel per run (r9;
    measured on every blocked kernel since the r8 sid tables).
    Returning the same DataFrame object for the same content makes
    rebuilt plans canonicalize equal. Entries are ≤P rows each; the
    dict is a size-capped LRU (``_LOCAL_TBLS_MAX``) with NaN/-0.0
    canonicalized keys (see ``_deep_tuple``), cleared wholesale by
    ``_internal.clear_cache``."""
    try:
        key = (schema if isinstance(schema, str) else schema.simpleString(),
               _deep_tuple([tuple(r) for r in rows]))
        hash(key)
    except TypeError:
        return spark.createDataFrame(rows, schema)
    df = _LOCAL_TBLS.get(key)
    if df is None or df.sparkSession is not spark:
        df = spark.createDataFrame(rows, schema)
        _LOCAL_TBLS[key] = df
    _LOCAL_TBLS.move_to_end(key)
    while len(_LOCAL_TBLS) > _LOCAL_TBLS_MAX:
        _LOCAL_TBLS.popitem(last=False)
    return df


def mark_blocked_output(frame):
    """Tag a Frame produced by a blocked kernel so a FURTHER blocked
    kernel consuming it knows the input plan already contains window/
    join machinery worth materializing (see consume_chained). Also
    registers the frame in the weak liveness set (r11): while it is
    alive its lazy plan may reference pins, so the clear_cache()
    barrier warns and LRU pin eviction defers (_internal.py)."""
    frame._blocked_out = True
    I.register_live_blocked(frame)
    return frame


def consume_chained(frame) -> SparkDataFrame:
    """Entry hook for blocked kernels reading a Frame: when the input
    is itself a blocked kernel's output (tagged by
    mark_blocked_output), materialize it ONCE via ``I.pin_order``
    (persist MEMORY_AND_DISK — NOT a checkpoint: the plan stays
    declarative, so an evicted block recomputes through the frozen
    physical plan with deterministic ids instead of failing the way a
    lost localCheckpoint block would). Each blocked call runs 2-3
    small build jobs (centering refs, block stats, carry totals) plus
    the main pass over its input; without the cut, K chained calls
    re-execute the upstream window/join machinery per job — the r8
    flagship chain (4 expanding-moment calls) doubled warm
    anchor-adjusted (r8 VERDICT "What's wrong" #1). After the pin
    every later job scans stored blocks. Single un-chained blocked
    calls are untouched: the tag is only set by blocked kernels, never
    by reads/projections.

    The pin stores the frame's FULL width deliberately: every blocked
    kernel's output passes non-value columns through in place, so the
    main pass reads the full width anyway — a width-pruned pin would
    force the main pass to re-execute the upstream machinery at full
    width once more, trading one stored copy for a doubled compute
    pass (measured; SCALE.md "Checkpoint width adjudication").
    Release: ``_internal.clear_cache()`` at a query boundary."""
    if getattr(frame, "_blocked_out", False):
        frame._sdf = I.pin_order(frame._sdf)
        frame._blocked_out = False
    return frame._sdf


def _pin_if_order(sdf: SparkDataFrame, order_col: Column) -> SparkDataFrame:
    """Kernels below collect order-derived literals in build jobs and
    apply them in the caller's later main job; when the order key is
    the engine's synthetic id the relation must be pinned first
    (I.pin_order) or AQE can hand the two jobs different id layouts —
    unless its ids are already read from a materialized relation
    (``I.ids_frozen``, e.g. a Series op over an augmented anchor).
    Data-derived order keys (timestamps, values) are plan-independent
    and skip the pin."""
    if _is_order_id(order_col) and not I.ids_frozen(sdf):
        return I.pin_order(sdf)
    return sdf


def _n_blocks(sdf: SparkDataFrame, lit: bool = False) -> int:
    """Target block count. ``lit=True`` caps at 256 for the one layout
    that embeds a per-block expression node (end of this docstring).
    The kernels expanding/ewm/running-pick/rank carry block metadata
    as broadcast tables / single array literals with O(1) plan size
    in the block count, so
    they follow defaultParallelism up to 4096 — a 1000-executor
    cluster fans out to its true core count instead of idling at the
    r7-era 256-task ceiling. rolling_blocked follows suit since r9:
    above ``_LIT_MAX`` source partitions the monotonic-id layout takes
    the broadcast-join variant (``_rolling_monotonic_joined`` — blocks
    = source partitions, O(1) plan size) and the value/time layouts
    ride a broadcast block table; only the monotonic SUBDIVIDING
    layout (≤``_LIT_MAX`` source partitions that must split to reach
    the target parallelism — small inputs by construction) still
    embeds literal per-partition CASE chains and caps at 256."""
    cap = 256 if lit else 4096
    return min(sdf.sparkSession.sparkContext.defaultParallelism, cap)


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
    probs = _lit_double_array(i / n for i in range(1, n))
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



def _lit_double_array(vals) -> Column:
    """Foldable array<double> literal built in ONE py4j call: the
    per-element ``F.array(*[F.lit(v) ...])`` form costs one JVM
    round-trip per element — measured 0.66 s of pure driver time for a
    1024-point percentile grid vs 9 ms for the parsed form (r13).
    ``repr`` round-trips IEEE doubles exactly; the D suffix keeps the
    parser in double (never decimal)."""
    return F.expr("array(" + ",".join(repr(float(v)) + "D" for v in vals) + ")")


def _lit_long_array(vals) -> Column:
    """Foldable array<bigint> literal in ONE py4j call (see
    ``_lit_double_array``; the L suffix keeps the parser in bigint)."""
    return F.expr("array(" + ",".join(str(int(v)) + "L" for v in vals) + ")")


def _blk_lookup(vals) -> Column:
    """Block id -> ``vals[BLK]`` (bigint) as ONE foldable array literal
    indexed by the block column — O(P) plan, never a P-branch CASE."""
    return F.element_at(_lit_long_array(vals), F.col(BLK).cast("int") + 1)


def _lit_carry_array(vals, dt: str) -> Column:
    """Foldable array<dt> literal for driver-folded carry values in
    ONE py4j call: numeric dtypes only (guarded by the caller), with
    NULL/NaN/±Infinity spelled so the parse round-trips exactly (repr
    emits the shortest exact decimal for doubles; NaN/Infinity go
    through a string cast, which Spark parses to the IEEE values; the
    final array cast restores the exact carry dtype)."""
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
                    f"_lit_carry_array: non-integral value {v!r} for "
                    f"integer carry dtype {dt!r}")
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


# Ceiling for embedding the sid→value lookup of the monotonic-id block
# layouts as a foldable array literal instead of a broadcast equi-join:
# each literal entry is one expression node, and the constant folds to
# a single array before execution. Small tables (every build job on a
# ≤4096-partition relation) skip the BroadcastExchange — one fewer AQE
# stage per collect AND per main action; above the cap the O(1)-plan
# broadcast join stands (the 100 TB case, where the join's relative
# cost vanishes).
_SID_LIT_MAX = 4096


def _sid_lookup_expr(sid: Column, ids: list, vals: list) -> Column | None:
    """sid → vals[i] (``ids``/``vals`` aligned, ids ascending) as a
    pure foldable expression, or None when the table is too large.
    Identity maps need no lookup at all. Gap entries (empty source
    partitions) are filled with 0 — no data row carries such a sid, so
    the filler is never read. Density gate (ADVICE r13): a sparse
    layout (e.g. ids=[0, 4000] after heavy coalescing) would embed a
    mostly-filler array literal per call site — plan/codegen bloat
    with no benefit over the broadcast join; require at least half the
    slots to be real."""
    if not ids or ids[-1] >= _SID_LIT_MAX:
        return None
    if len(ids) < (ids[-1] + 1) // 2:
        return None
    if vals == ids:
        return sid
    arr = [0] * (ids[-1] + 1)
    for s, v in zip(ids, vals):
        arr[s] = v
    # try_element_at, not element_at (ADVICE r13): every data row's sid
    # is in trows by construction, so the index is always in bounds —
    # but under spark.sql.ansi.enabled=true a future violation should
    # degrade to the NULL the broadcast-join path produced, not a
    # runtime INVALID_ARRAY_INDEX error. Identical value in bounds.
    return F.try_element_at(_lit_long_array(arr), (sid + 1).cast("int"))


def _blk_expr(key: Column, bounds: list, null_block: int = 0) -> Column:
    """Block id = #split-points strictly below the key: a pure,
    deterministic function of the key value. Equal keys always share a
    block (no tie group ever straddles a boundary); nulls all land in
    ``null_block``. LITERAL comparison chain — _attach_block's small
    case (≤``_LIT_MAX`` bounds); above that it probes a broadcast
    bounds array instead, O(1) plan size at any block count."""
    if not bounds:
        return F.lit(0)
    e = None
    for b in bounds:
        t = (key > F.lit(b)).cast("int")
        e = t if e is None else e + t
    return F.when(key.isNull(), F.lit(null_block)).otherwise(e)


def _binsearch_pos(key: Column, arr: Column, n: int, upper: bool) -> Column:
    """Position of ``key`` among ``arr``'s n ascending elements as an
    UNROLLED binary search — ⌈log₂n⌉+1 fixed iterations driven by one
    ``aggregate`` HOF, so plan size is O(1) and per-row cost O(log n)
    in the bound count (the literal chain is O(n) in both).
    upper=False: #elements strictly below key (lower bound, strict
    ``>`` step — ties collapse left exactly like _blk_expr).
    upper=True: #elements ≤ key (``>=`` step). NaN keys order above
    every bound (Spark NaN semantics), matching the literal chain."""
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
    bounds, with plan size O(1) in the bound count: ≤_LIT_MAX bounds
    keep the codegen-friendly literal chain; above it the bounds ship
    as ONE array value in a broadcast single-row relation (data, not
    expression nodes) probed by the O(log P) binary search.
    descending=True assigns block 0 to the LARGEST keys (#bounds
    strictly above key), the rank_blocked layout."""
    n = len(bounds)
    if n <= _LIT_MAX:
        if descending:
            if not bounds:
                return sdf.withColumn(BLK, F.lit(0))
            e = None
            for b in bounds:
                t = (key < F.lit(b)).cast("int")
                e = t if e is None else e + t
            blk = F.when(key.isNull(), F.lit(null_block)).otherwise(e)
        else:
            blk = _blk_expr(key, bounds, null_block)
        return sdf.withColumn(BLK, blk)
    typ = "bigint" if all(isinstance(b, int) for b in bounds) else "double"
    vals = bounds if typ == "bigint" else [float(b) for b in bounds]
    bdf = _memo_table(sdf.sparkSession, [(vals,)], f"__bnds__ array<{typ}>")
    aug = sdf.crossJoin(F.broadcast(bdf))
    arr = F.col("__bnds__")
    pos = _binsearch_pos(key, arr, n, upper=descending)
    blk = (F.lit(n) - pos) if descending else pos
    blk = F.when(key.isNull(), F.lit(null_block)).otherwise(blk)
    return aug.withColumn(BLK, blk).drop("__bnds__")


def collect_sid_layout(sdf: SparkDataFrame, order_col: Column):
    """One layout stats job for the monotonic-id fast paths, grouped by
    (PHYSICAL partition, sid) and merged on the driver. Returns
    ``(stats, aligned)``:

    - ``stats``: ``[(sid, count, lo, hi), ...]`` sorted by sid, or
      ``None`` when per-sid offsets are not contiguous 0..c-1 (an
      upstream filter left gaps — fast paths must then fall back).
    - ``aligned``: every sid's rows live in exactly ONE physical
      partition of the (pinned) relation. Blocks subdivide sids, so
      aligned means block ⊆ physical partition — the precondition for
      the two-pass summarize/evaluate kernels to run as ``mapInPandas``
      with ZERO shuffles instead of two groupBy(BLK) exchanges (guide
      §2.1 "remove the shuffle outright"). spark_partition_id is read
      off the pinned relation, so its stability across the stats job
      and the later passes rides the SAME pin_order freeze contract
      the id-derived literals already rely on.

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
    # is stored too, not just its ids (_pin_if_order skips the pin when
    # the ids alone are frozen upstream)
    return stats, (all(len(v) == 1 for v in pids.values())
                   and I.ids_frozen(sdf, layout=True))


def collect_sid_stats(sdf: SparkDataFrame, order_col: Column):
    """Back-compat shape of ``collect_sid_layout``: just the stats."""
    return collect_sid_layout(sdf, order_col)[0]


def _block_partition_monotonic(sdf: SparkDataFrame, order_col: Column,
                               n: int,
                               sid_stats=None) -> SparkDataFrame | None:
    """Fast path when the order key is the engine's monotonic id
    (partition · 2³³ + offset): blocks = source partitions subdivided
    by the offset bits to the target parallelism, block metadata
    attached by ONE broadcast equi-join against a driver-built
    ≤P-row table. No percentile job, no per-block expression nodes —
    plan size and per-row cost are O(1) at any partition count.
    Returns None when per-partition offsets are not contiguous
    0..c-1 (an upstream filter left gaps — offsets are then not
    block-local positions); the caller falls back to the
    value-derived percentile layout, which needs id ORDER only."""
    import math

    MASK = (1 << 33) - 1
    sid = F.shiftright(order_col, 33)
    off = order_col.bitwiseAND(F.lit(MASK))
    if sid_stats is False:  # caller probed already: known non-contiguous
        return None
    if sid_stats is None:
        sid_stats = collect_sid_stats(sdf, order_col)
        if sid_stats is None:
            return None
    if not sid_stats:
        return sdf.withColumn(BLK, F.lit(0))
    counts = {b: c for b, c, _lo, _hi in sid_stats}
    ids = sorted(counts)
    total = sum(counts.values())
    chunk = max(1, math.ceil(total / n))
    rows, bi = [], 0
    for s in ids:
        rows.append((int(s), bi))
        bi += max(1, math.ceil(counts[s] / chunk))
    base_e = _sid_lookup_expr(sid, [s for s, _ in rows], [b for _, b in rows])
    if base_e is not None:  # same blk values, no BroadcastExchange stage
        return sdf.withColumn(
            BLK, (base_e + F.floor(off / F.lit(chunk))).cast("int"))
    tbl = _memo_table(sdf.sparkSession, rows, "__sid__ long, __base__ int")
    return (sdf.withColumn("__sid__", sid)
            .join(F.broadcast(tbl), "__sid__")
            .withColumn(BLK, (F.col("__base__")
                              + F.floor(off / F.lit(chunk))).cast("int"))
            .drop("__sid__", "__base__"))


def block_partition(sdf: SparkDataFrame, order_col: Column,
                    n_blocks: int | None = None,
                    monotonic_id: bool = False,
                    sid_stats=None) -> SparkDataFrame:
    """Attach the block id for a numeric order key. No physical
    repartition here — the per-block window's own hash exchange on
    BLK distributes the work. ``monotonic_id=True`` (the caller's
    order key is the engine id, possibly copied into another column)
    takes the broadcast sid-join layout; otherwise one
    percentile_approx job derives split bounds and _attach_block
    applies them with O(1) plan size in the block count."""
    sdf = _pin_if_order(sdf, order_col)
    n = n_blocks or _n_blocks(sdf)
    if monotonic_id:
        out = _block_partition_monotonic(sdf, order_col, n,
                                         sid_stats=sid_stats)
        if out is not None:
            return out
    bounds = _split_bounds(sdf, order_col, n)
    return _attach_block(sdf, order_col, bounds)


# Per-task row ceiling for the aligned zero-shuffle path: when the sid
# count is below the target parallelism, blocks-as-sids would run fewer
# tasks than the shuffled subdividing layout — acceptable only while a
# task's sequential numpy pass stays trivially cheap. 4M rows ≈ tens of
# ms per kernel column; a handful of huge cached partitions (e.g. an
# upstream AQE-coalesced exchange) falls back to the groupBy layouts.
_ALIGNED_ROWS_CAP = int(os.environ.get("SPARK_GRAFT_ALIGNED_ROWS_CAP",
                                       "4000000"))

# Row threshold for running_pick's VALUE-keyed fast-carry strategy
# (see running_pick_blocked): below it the lazy shared-exchange carry
# wins (its cost is one fewer blocking build job — fixed driver time,
# and over the pinned input the second window evaluation reads cached
# blocks); above it the collect-and-fold carry wins (the double window
# evaluation scales with the data). Measured over the PINNED input on
# this box: 45k-row union lazy 0.78 s vs fast ~1.1 s; 450k lazy 0.95
# vs fast 1.34; 6.25M fast 2.38 vs lazy 2.90 (1.22×, growing with
# data) — geometric midpoint ≈ 2M. Threshold in ROWS, not cores.
_CARRY_FAST_MIN_ROWS = int(os.environ.get(
    "SPARK_GRAFT_CARRY_FAST_MIN_ROWS", "2000000"))


def _blocked_base(sdf: SparkDataFrame, order_col: Column,
                  n_blocks: int | None,
                  mono: bool) -> tuple[SparkDataFrame, bool, int]:
    """Attach ``OC`` + ``BLK`` for a two-pass summarize/evaluate kernel.

    Returns ``(base, aligned, nb_est)``. aligned=True means blocks ≡ id
    source partitions, each wholly inside ONE physical partition of the
    pinned relation (``collect_sid_layout``), with enough of them (or
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
        # subdividing layouts split ≤ n_sids source runs to the target
        # parallelism: block count ≤ target + one remainder per sid
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
    base0 = _pin_if_order(sdf, order_col).withColumn(OC, order_col)
    n_params = len(inspect.signature(build).parameters)

    # Per-block row count + min order key: ONE tiny job, ≤P rows,
    # collected and embedded as literals (the _split_bounds determinism
    # contract). No broadcast joins, no union branches — borrowing a
    # row into every block whose windows need it is a single explode
    # over a literal destination table, so the base relation is
    # scanned exactly once by the main job.
    if monotonic_id and not time_based:
        # Fast path: the order key is the engine's monotonically-
        # increasing id, which encodes (partition · 2³³ + offset) — a
        # pure function of the value that already respects global
        # order. Blocks = source partitions, each subdivided by the
        # offset bits until the target parallelism is met (so a skewed
        # or AQE-coalesced layout still fans out). The percentile
        # split-points job is skipped entirely.
        import math

        MASK = (1 << 33) - 1
        sid = F.shiftright(F.col(OC), 33)
        off = F.col(OC).bitwiseAND(F.lit(MASK))
        stats = (base0.groupBy(sid.alias("b"))
                 .agg(F.count(F.lit(1)).alias("c"),
                      F.min(F.col(OC).bitwiseAND(F.lit(MASK))).alias("lo"),
                      F.max(F.col(OC).bitwiseAND(F.lit(MASK))).alias("hi"))
                 .collect())
        counts = {r["b"]: r["c"] for r in stats}
        ids = sorted(counts)
        # the offset bits are a valid block-local POSITION only when
        # offsets are contiguous 0..c-1 per partition — a filter/dropna
        # upstream of the id column leaves gaps, which would silently
        # corrupt block ids and positions (review-verified failure on
        # df[mask].shift()). Detect and fall back to the value-derived
        # percentile layout, which only needs id ORDER.
        contiguous = all(r["lo"] == 0 and r["hi"] == r["c"] - 1 for r in stats)
        if not contiguous:
            monotonic_id = False
        elif len(ids) > _LIT_MAX:
            # High partition count (the 1000-executor case): literal
            # CASE chains would grow the plan with P. Switch to the
            # broadcast-join variant — constant plan size at any P.
            joined = _rolling_monotonic_joined(
                base0, OC, sid, off, lo, hi, build, n_params, ids, counts)
            if joined is not None:
                return joined
            # tiny interior blocks (< window reach) at huge partition
            # counts: take the percentile layout, NOT the literal one —
            # per-partition CASE chains would be the exact plan blowup
            # _LIT_MAX guards against
            monotonic_id = False
    if monotonic_id and not time_based:
        total = sum(counts.values())
        n = n_blocks or _n_blocks(sdf, lit=True)
        chunk = max(1, math.ceil(total / n))
        blk, cnts, bi = None, [], 0
        gpos_fast, pre = None, 0
        for s in ids:
            c = counts[s]
            nsub = max(1, math.ceil(c / chunk))
            e = F.lit(bi) + F.floor(off / F.lit(chunk)).cast("int")
            blk = F.when(sid == s, e) if blk is None else blk.when(sid == s, e)
            # global position is a pure function of the id: offset +
            # the (driver-known) count of all earlier partitions — no
            # row_number window, no extra sort
            g = F.lit(pre) + off
            gpos_fast = (F.when(sid == s, g) if gpos_fast is None
                         else gpos_fast.when(sid == s, g))
            cnts.extend(min(chunk, c - j * chunk) for j in range(nsub))
            bi += nsub
            pre += c
        blk = F.lit(0) if blk is None else blk.otherwise(F.lit(0))
        nb = max(len(cnts), 1)
        per = {i: {"c": c} for i, c in enumerate(cnts)}
    else:
        # value/time keys (r9: UNCAPPED — the block id attaches via
        # _attach_block with O(1) plan size, and the borrow machinery
        # below rides a broadcast block table instead of literal
        # lookups, so the 256 literal cap no longer applies to rolling
        # on data-derived order keys)
        blk = None
        n = n_blocks or _n_blocks(sdf)
        bounds = _split_bounds(base0, F.col(OC), n)
        base = _attach_block(base0, F.col(OC), bounds)
        nb = len(bounds) + 1
        per = None
        gpos_fast = None
    if blk is not None:
        base = base0.withColumn(BLK, blk)

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

    if nb == 1:
        return finish(base.withColumn(BORROW, F.lit(False)))

    if per is None:
        stats = base.groupBy(BLK).agg(
            F.count(F.lit(1)).alias("c"), F.min(OC).alias("m")).collect()
        per = {r[BLK]: r for r in stats}
    cnts = [per[b]["c"] if b in per else 0 for b in range(nb)]
    own = F.array(F.struct(F.col(BLK).cast("int").alias("d"),
                           F.lit(False).alias("bw")))

    if time_based:
        if lo is None or lo >= 0:
            return finish(base.withColumn(BORROW, F.lit(False)))
        # destination d needs every row with OC >= min(OC in d) + lo
        dests = [(d, per[d]["m"] + lo) for d in range(1, nb)
                 if d in per and per[d]["m"] is not None]
        if not dests:
            return finish(base.withColumn(BORROW, F.lit(False)))
        drop_extra = []
        if len(dests) <= _LIT_MAX:
            tbl = F.array(*[F.struct(F.lit(d).alias("d"), F.lit(thr).alias("thr"))
                            for d, thr in dests])
        else:
            # large P: the destination table ships as ONE array value
            # in a broadcast single-row relation (data, not plan)
            ddf = _memo_table(
                base.sparkSession,
                [([(int(d), int(thr)) for d, thr in dests],)],
                "__dst__ array<struct<d:int,thr:bigint>>")
            base = base.crossJoin(F.broadcast(ddf))
            tbl = F.col("__dst__")
            drop_extra = ["__dst__"]
        hits = F.filter(tbl, lambda s: (s["d"] > F.col(BLK)) & (F.col(OC) >= s["thr"]))
        copies = F.concat(own, F.transform(
            hits, lambda s: F.struct(s["d"].alias("d"), F.lit(True).alias("bw"))))
        aug = (base.withColumn("__cp__", F.explode(copies))
               .withColumn(BLK, F.col("__cp__.d"))
               .withColumn(BORROW, F.col("__cp__.bw"))
               .drop("__cp__", *drop_extra))
        return finish(aug)

    need_prev = max(-lo, 0) if isinstance(lo, int) else 0
    need_next = max(hi, 0) if isinstance(hi, int) else 0
    if not (need_prev or need_next):
        return finish(base.withColumn(BORROW, F.lit(False)))
    starts, acc = [], 0
    for c in cnts:
        starts.append(acc)
        acc += c
    drop_extra = []
    if gpos_fast is not None:
        # monotonic-literal layout: ≤_LIT_MAX source partitions, block
        # starts/counts stay codegen-friendly literal lookups
        gpos = gpos_fast
        bst, bcnt = _blk_lookup(starts), _blk_lookup(cnts)
    elif nb <= _LIT_MAX:
        rn = F.row_number().over(W.partitionBy(BLK).orderBy(F.col(OC).asc()))
        bst, bcnt = _blk_lookup(starts), _blk_lookup(cnts)
        gpos = bst + rn - 1
    else:
        # large P (r9): block starts/counts ride a broadcast ≤P-row
        # table — plan size O(1) in the block count, so rolling on
        # value-derived keys follows defaultParallelism like the other
        # DataFrame kernels instead of capping at 256
        btbl = _memo_table(
            base.sparkSession,
            [(int(b), int(starts[b]), int(cnts[b])) for b in range(nb)],
            f"{BLK} int, __bst__ long, __bcnt__ long")
        base = base.withColumn(BLK, F.col(BLK).cast("int")) \
                   .join(F.broadcast(btbl), BLK, "left")
        drop_extra = ["__bst__", "__bcnt__"]
        rn = F.row_number().over(W.partitionBy(BLK).orderBy(F.col(OC).asc()))
        bst = F.col("__bst__")
        bcnt = F.col("__bcnt__")
        gpos = bst + rn - 1
    g = F.col("__gp__")
    ST = "array<struct<d:int,bw:boolean>>"

    # Scalar single-destination path: when every interior block is at
    # least as wide as the window reach, a row borrows into at most the
    # adjacent block — plain comparisons against the block start/count,
    # whole-stage-codegen'd. (The table HOF below is exact under
    # arbitrary skew but evaluates interpreted per row.)
    prev_ok = (not need_prev) or all(cnts[d] >= need_prev for d in range(1, nb))
    next_ok = (not need_next) or all(cnts[d] >= need_next for d in range(nb - 1))
    if prev_ok and next_ok:
        parts = [own]
        empty = F.array().cast(ST)
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
        copies = F.concat(*parts)
    else:
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
            return finish(base.withColumn(BORROW, F.lit(False))
                          .drop(*drop_extra))
        if len(ivs) <= _LIT_MAX:
            tbl = F.array(*[F.struct(F.lit(d).alias("d"),
                                     F.lit(a).cast("long").alias("lo"),
                                     F.lit(b).cast("long").alias("hi"))
                            for d, a, b in ivs])
        else:
            idf = _memo_table(
                base.sparkSession,
                [([(int(d), int(a), int(b)) for d, a, b in ivs],)],
                "__ivs__ array<struct<d:int,lo:bigint,hi:bigint>>")
            base = base.crossJoin(F.broadcast(idf))
            tbl = F.col("__ivs__")
            drop_extra = drop_extra + ["__ivs__"]
        hits = F.filter(tbl, lambda s: (s["d"] != F.col(BLK))
                        & (g >= s["lo"]) & (g < s["hi"]))
        copies = F.concat(own, F.transform(
            hits, lambda s: F.struct(s["d"].alias("d"), F.lit(True).alias("bw"))))
    aug = (base.withColumn("__gp__", gpos)
           .withColumn("__cp__", F.explode(copies))
           .withColumn(BLK, F.col("__cp__.d"))
           .withColumn(BORROW, F.col("__cp__.bw"))
           .drop("__cp__", "__gp__", *drop_extra))
    return finish(aug)


# ----------------------------------------------------------------- #
# expanding / cumulative: per-block running aggregate + prefix carry #
# ----------------------------------------------------------------- #

# spec: out_name -> (in_col, kind); kind in
#   sum count min max mean var std prod
_RUNNING = {"sum", "count", "min", "max", "mean", "var", "std", "prod"}


def expanding_blocked(sdf: SparkDataFrame, order_col: Column,
                      specs: dict[str, tuple[str, str]],
                      min_periods: int = 1,
                      n_blocks: int | None = None,
                      pre_pinned: bool = False) -> SparkDataFrame:
    """Running aggregates (expanding window) over blocks.

    Per block: running partials over a per-block window (parallel).
    Across blocks: each block's totals are aggregated into a P-row
    table; an ordered prefix over that tiny table gives the carry each
    block adds — broadcast back. Combines: sum/count add, min/max fold,
    mean = ΣX/n, var/std from (ΣX, ΣX², n), prod from Σln|x| + sign
    and zero parities (the SURVEY §2.5 cumprod idiom).

    ``pre_pinned=True`` (r13): the caller guarantees ``sdf`` is a
    deterministic per-row projection over a relation it already pinned
    via ``I.pin_order`` — the id layout is frozen by THAT pin, so
    pinning the projected plan again would only double-store the data
    (Expanding.moments pins the base before its centering-refs sample
    and layers ~16 power-sum temps on top). The build/main jobs then
    recompute the cheap projection over the cached blocks.

    CALLER OBLIGATION (ADVICE r13): passing ``pre_pinned=True`` over an
    unpinned or non-deterministic relation silently reopens the AQE
    id-shift race ``pin_order`` closes — the build jobs and the main
    action could then see DIFFERENT block layouts, producing wrong
    carries with no error. Any new ``pre_pinned=True`` call site must
    (a) pin the base relation first and (b) layer only deterministic
    per-row projections on top; state that in the call-site comment.
    """
    for name, (_, kind) in specs.items():
        if kind not in _RUNNING:
            raise ValueError(f"non-decomposable expanding aggregate {kind!r}")
    OC = "__ord__"
    mono = _is_order_id(order_col)
    if not pre_pinned:
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
    # DRIVER-COLLECTED and re-shipped as one literal broadcast
    # relation (r9). The previous lazy carry subtree (a window over
    # the grouped totals) re-evaluated the whole upstream chain once
    # per blocked call inside the MAIN action — the r8 plan of a
    # 4-call chain held 85 Exchange SinglePartition subtrees and warm
    # time doubled (r8 VERDICT "What's wrong" #1). Collected, the main
    # plan is linear: one scan, one window exchange, one broadcast
    # join. Python folds replicate Spark null/NaN aggregate semantics
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

    # Block layout + totals: on the monotonic-id fast path WITHOUT
    # per-partition subdivision, blocks == source partitions, so ONE
    # groupBy(sid) job returns the contiguity stats AND the per-block
    # totals together (r9 — the split stats-then-totals pair was half
    # of each call's build latency on small/chained inputs). The
    # subdivided / value-derived layouts keep the generic two-job path.
    import math

    base = None
    trows: list[tuple[int, dict]] | None = None  # (blk, totals row) asc
    tot_schema = None
    if mono:
        MASK = (1 << 33) - 1
        sid = F.shiftright(order_col, 33)
        off = order_col.bitwiseAND(F.lit(MASK))
        n = n_blocks or _n_blocks(sdf)
        stats_df = sdf.groupBy(sid.alias("__b__")).agg(
            F.count(F.lit(1)).alias("__c__"),
            F.min(off).alias("__lo__"), F.max(off).alias("__hi__"),
            *tot_aggs)
        stats = stats_df.collect()
        contiguous = bool(stats) and all(
            r["__lo__"] == 0 and r["__hi__"] == r["__c__"] - 1 for r in stats)
        if contiguous:
            counts = {r["__b__"]: r["__c__"] for r in stats}
            ids = sorted(counts)
            chunk = max(1, math.ceil(sum(counts.values()) / n))
            if all(counts[s] <= chunk for s in ids):
                # blocks = source partitions, densely renumbered: the
                # same assignment _block_partition_monotonic computes
                # when no partition needs subdividing
                sids = [int(s) for s in ids]
                base_e = _sid_lookup_expr(sid, sids, list(range(len(ids))))
                if base_e is not None:  # foldable lookup, no join (r13)
                    base = (sdf.withColumn(OC, order_col)
                            .withColumn(BLK, base_e.cast("int")))
                else:
                    tbl = _memo_table(
                        sdf.sparkSession,
                        [(s, i) for i, s in enumerate(sids)],
                        "__sid__ long, __base__ int")
                    base = (sdf.withColumn(OC, order_col)
                            .withColumn("__sid__", sid)
                            .join(F.broadcast(tbl), "__sid__")
                            .withColumn(BLK, F.col("__base__"))
                            .drop("__sid__", "__base__"))
                by_sid = {r["__b__"]: r for r in stats}
                trows = [(i, by_sid[s]) for i, s in enumerate(ids)]
                tot_schema = stats_df.schema
            else:
                # contiguous but some partition must SUBDIVIDE to reach
                # the target parallelism: build the subdivided block
                # assignment from the stats already collected (r13 —
                # falling through to block_partition repeated the exact
                # same groupBy(sid) job; guide §1.2: remove passes).
                # Per-block totals still need their own aggregation
                # (trows stays None), but the layout job is saved.
                rows, bi = [], 0
                for s in ids:
                    rows.append((int(s), bi))
                    bi += max(1, math.ceil(counts[s] / chunk))
                blk_off = F.floor(off / F.lit(chunk))
                base_e = _sid_lookup_expr(sid, [s for s, _ in rows],
                                          [b for _, b in rows])
                if base_e is not None:  # foldable lookup, no join (r13)
                    base = (sdf.withColumn(OC, order_col)
                            .withColumn(BLK, (base_e + blk_off).cast("int")))
                else:
                    tbl = _memo_table(sdf.sparkSession, rows,
                                      "__sid__ long, __base__ int")
                    base = (sdf.withColumn(OC, order_col)
                            .withColumn("__sid__", sid)
                            .join(F.broadcast(tbl), "__sid__")
                            .withColumn(BLK, (F.col("__base__")
                                              + blk_off).cast("int"))
                            .drop("__sid__", "__base__"))
    if base is None:
        base = block_partition(sdf.withColumn(OC, order_col), F.col(OC),
                               n_blocks, monotonic_id=mono)
    if trows is None:
        totals = base.groupBy(BLK).agg(*tot_aggs)
        trows = sorted(((r[BLK], r) for r in totals.collect()),
                       key=lambda t: t[0])
        tot_schema = totals.schema

    aug = base.withColumns(local_exprs)

    from pyspark.sql.types import IntegerType, StructField, StructType

    tsch = {f.name: f for f in tot_schema.fields}
    # Integer sum carries fold in Python (arbitrary precision) but are
    # re-shipped as int64 literals AND added to int64 JVM partials —
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
    crows = []
    nb = int(trows[-1][0]) + 1 if trows else 0
    per: dict[str, list] = {nm: [None] * nb for nm, _, _ in carry_specs}
    for blk, r in trows:
        crows.append(tuple([int(blk)] + [acc[nm] for nm, _, _ in carry_specs]))
        for nm, tn, fk in carry_specs:
            per[nm][int(blk)] = acc[nm]
            v = r[tn]
            if v is not None:
                acc[nm] = _FOLDS[fk](acc[nm], v)
                if nm in int_sums:
                    acc[nm] = _wrap_i64(acc[nm])
    # Attach the carries as foldable literal lookups instead of a
    # broadcast join when the table is small (r13): one fewer
    # BroadcastExchange stage in the main action, same values (the
    # arrays are indexed by block id; blocks absent from trows have no
    # rows, so their None filler is never read). Numeric carries only —
    # exotic min/max dtypes (timestamps, strings) keep the join, as
    # does any large layout (the broadcast table is O(1) plan size).
    _LIT_DTS = ("bigint", "int", "double", "float")
    if 0 < nb <= 512 and nb * len(carry_specs) <= 8192 and all(
            tsch[tn].dataType.simpleString() in _LIT_DTS
            for _, tn, _ in carry_specs):
        # try_element_at: blk+1 is in bounds by construction (every data
        # row's block appears in trows); under ANSI mode a violation
        # degrades to the join path's NULL, never a runtime error.
        idx = F.col(BLK).cast("int") + 1
        aug = aug.withColumns({
            nm: F.try_element_at(
                _lit_carry_array(per[nm], tsch[tn].dataType.simpleString()),
                idx)
            for nm, tn, _ in carry_specs})
    else:
        cschema = StructType(
            [StructField(BLK, IntegerType(), True)]
            + [StructField(nm, tsch[tn].dataType, True)
               for nm, tn, _ in carry_specs])
        carry = _memo_table(base.sparkSession, crows, cschema)
        aug = aug.join(F.broadcast(carry.withColumn(
            BLK, F.col(BLK).cast(dict(base.dtypes)[BLK]))), BLK, "left")

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
    PARTITION METADATA — one tiny groupBy(sid) stats job builds a
    broadcast (sid → rows-before) table and rn = base + offset + 1.
    No window, no shuffle, no per-block totals pass (guide §2.4:
    remove the shuffle outright). The generic fallback is the blocked
    running count (expanding_blocked), the pre-r13 plan."""
    if _is_order_id(order_col):
        sdf = _pin_if_order(sdf, order_col)
        MASK = (1 << 33) - 1
        sid = F.shiftright(order_col, 33)
        off = order_col.bitwiseAND(F.lit(MASK))
        if sid_stats is None:
            sid_stats = collect_sid_stats(sdf, order_col)
        if sid_stats:
            rows, acc = [], 0
            for b, c, _lo, _hi in sid_stats:
                rows.append((int(b), acc))
                acc += c
            rnb_e = _sid_lookup_expr(sid, [s for s, _ in rows],
                                     [v for _, v in rows])
            if rnb_e is not None:  # foldable lookup, no join (r13)
                return sdf.withColumn(name, rnb_e + off + F.lit(1))
            tbl = _memo_table(sdf.sparkSession, rows,
                              "__sid__ long, __rnb__ long")
            return (sdf.withColumn("__sid__", sid)
                    .join(F.broadcast(tbl), "__sid__")
                    .withColumn(name, F.col("__rnb__") + off + F.lit(1))
                    .drop("__sid__", "__rnb__"))
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
    the attempt; ``SPARK_GRAFT_MEDIAN_FUSE=0`` disables the attempt for
    deployments that know their data is like that)."""
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
    fuse_budget = int(os.environ.get("SPARK_GRAFT_MEDIAN_FUSE_BUDGET",
                                     str(256 * 2**20)))
    ucap = max(4 * n_grid, 4096)
    # Driver-bytes budget for the fused attempt (guide §5): each
    # (block, col) histogram ships ≤ ucap (value, count) pairs = 16
    # bytes/entry to the driver. The per-block ucap bounds a single
    # block, not the layout — an aligned layout's block count equals
    # its sid count (unbounded at scale), so gate the whole attempt on
    # the estimated total and fall back to the classic fixed-size
    # percentile_approx grid when it would not fit.
    if (os.environ.get("SPARK_GRAFT_MEDIAN_FUSE", "1") == "1"
            and _nb_est * len(cols) * ucap * 16 <= fuse_budget):
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
        probs = _lit_double_array(i / n_grid for i in range(1, n_grid + 1))
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
    # incoming prefix counts ship as a broadcast ≤P-row table joined on
    # the block id — NOT pickled into the UDF closure, which would copy
    # all P·n_grid counts to every task — and stay PACKED BINARY end
    # to end (8 bytes per count, decoded by np.frombuffer per task)
    pref_rows = [[int(b)] + [None] * len(cols) for b in blks]
    for ci, c in enumerate(cols):
        acc = np.zeros(len(grids[c]), dtype=np.int64)
        for ri, b in enumerate(blks):
            pref_rows[ri][1 + ci] = acc.tobytes()
            v = per.get(c, {}).get(b)
            if v is not None and len(v):
                acc = acc + v
    pref_cols = {c: f"__pref_{i}__" for i, c in enumerate(cols)}
    pref_schema = ("__pb__ int" + "".join(
        f", {pref_cols[c]} binary" for c in cols))
    ptbl = _memo_table(base.sparkSession,
                       [tuple(r) for r in pref_rows], pref_schema)
    base = base.join(F.broadcast(ptbl), base[BLK] == ptbl["__pb__"], "left") \
               .drop("__pb__")
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

    probs = _lit_double_array(i / n_grid for i in range(1, n_grid + 1))
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
    pref_rows = []
    for gk, bset in sorted(gk_blks.items(), key=lambda t: str(t[0])):
        accs = {c: np.zeros(len(grids.get((gk, c), ())), dtype=np.int64)
                for c in cols}
        for b in sorted(bset):
            pref_rows.append(tuple(gk) + (int(b),)
                             + tuple(accs[c].tobytes() for c in cols))
            for c in cols:
                v = per.get((gk, c), {}).get(b)
                if v is not None and len(v) and len(v) == len(accs[c]):
                    accs[c] = accs[c] + v
    pref_schema = StructType(
        key_fields + [StructField("__gpb__", LongType())]
        + [StructField(pref_cols[c], BinaryType()) for c in cols])
    ptbl = _memo_table(base.sparkSession, pref_rows, pref_schema)
    cond = [base[k].eqNullSafe(ptbl[k]) for k in keys] +         [base[BLK] == ptbl["__gpb__"]]
    joined = base.join(F.broadcast(ptbl), cond, "left")
    aug = joined.select(*[base[c] for c in base.columns],
                        *[ptbl[pref_cols[c]] for c in cols])
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
        # are pinned BEFORE the split-bounds job, so bounds, the totals
        # collect and the main window action all read one materialized
        # relation instead of each re-running scan+union (r14; the
        # mono-id layouts arrive here already pinned by _pin_if_order,
        # and pin_order's semanticHash registry dedups — same
        # LRU/storage budget as every other blocked kernel input,
        # SCALE.md "Session storage budget").
        sdf = I.pin_order(sdf)
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
        # shared-exchange carry stays (over the pin it reads cached
        # blocks). The count rides the bounds job for free.
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
        from pyspark.sql.types import StructField, StructType

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
        # foldable literal carries for small numeric layouts (r13 —
        # same trade as expanding_blocked: drops the BroadcastExchange
        # stage from the main action; every blk_ids slot is written by
        # the fold above, so no filler survives for a block with rows)
        nb = (blk_ids[-1] + 1) if blk_ids else 0
        _LIT_DTS = ("bigint", "int", "double", "float")
        if 0 < nb <= 512 and nb * len(carry_specs) <= 8192 and all(
                tsch[tn].dataType.simpleString() in _LIT_DTS
                for _, tn, _ in carry_specs):
            per: dict[str, list] = {nm: [None] * nb
                                    for nm, _, _ in carry_specs}
            for blk in blk_ids:
                for nm, _, _ in carry_specs:
                    per[nm][blk] = rows_by_blk[blk][nm]
            # try_element_at: in-bounds by construction, ANSI-safe NULL
            # degradation otherwise (see expanding_blocked's carries)
            idx = F.col(BLK).cast("int") + 1
            aug = aug.withColumns({
                nm: F.try_element_at(
                    _lit_carry_array(per[nm],
                                     tsch[tn].dataType.simpleString()),
                    idx)
                for nm, tn, _ in carry_specs})
        else:
            crows = [tuple([blk] + [rows_by_blk[blk][nm]
                                    for nm, _, _ in carry_specs])
                     for blk in blk_ids]
            cschema = StructType(
                [StructField(BLK, totals.schema[BLK].dataType, True)]
                + [StructField(nm, tsch[tn].dataType, True)
                   for nm, tn, _ in carry_specs])
            carry = _memo_table(base.sparkSession, crows, cschema)
            aug = aug.join(F.broadcast(carry), BLK, "left")
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
    # re-shipped as one literal broadcast relation (r9) — the lazy
    # window-over-grouped form re-evaluated the upstream chain inside
    # the main action as an Exchange SinglePartition subtree.
    trows = sorted(tiny.collect(), key=lambda r: r[BLK])
    tot = sum(r["__cnt__"] for r in trows)
    dtot = (sum(r["__nd__"] for r in trows)
            + (max((r["__hn__"] for r in trows), default=0)
               if nulls_ranked else 0))
    orows, acc, dacc = [], 0, 0
    for r in trows:
        orows.append((r[BLK], acc, dacc, tot, dtot))
        acc += r["__cnt__"]
        dacc += r["__nd__"] + (r["__hn__"] if nulls_ranked else 0)
    blk_t = dict(zip(base.schema.fieldNames(),
                     [f.dataType.simpleString() for f in base.schema.fields]))[BLK]
    offs = _memo_table(
        base.sparkSession,
        orows, f"{BLK} {blk_t}, __off__ long, __doff__ long, "
               "__tot__ long, __dtot__ long")
    aug = base.join(F.broadcast(offs), BLK)

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
        r = r / (F.col("__dtot__") if method == "dense" else F.col("__tot__")).cast("double")
    if not nulls_ranked:
        r = F.when(col.isNull(), F.lit(None)).otherwise(r)
    return aug.withColumn(out_name, r).drop(BLK, "__off__", "__doff__", "__tot__", "__dtot__")


# ------------------------------------------------------------------ #
# ungrouped EWM mean: per-block partials + driver-chained carry        #
# ------------------------------------------------------------------ #
# The reference kernel (window.pyx:1732 ewma) is a sequential
# recursion. It decomposes over order blocks:
#   adjust=True   y_t = num_t / den_t with num_t = w^δ·num_{t-1} + x_t,
#                 den_t likewise — LINEAR in the incoming (num, den),
#                 so a block's effect on any incoming state is
#                 (num_local, den_local, total decay), three scalars.
#   adjust=False  the average is AFFINE in the incoming average once
#                 the (data-independent) weight sequence is known:
#                 avg_out = A·avg'_first + B, with avg'_first the
#                 update of the incoming state by the block's first
#                 valid value.
# Pass 1 computes those per-block scalars in parallel, the driver
# chains ≤P states, pass 2 evaluates each block in parallel with its
# exact incoming state. Nothing sequential ever touches more than one
# block.


def _ewma_adjust_parts(x, valid, w: float, ignore_na: bool):
    """Vectorized standalone discounted sums for adjust=True.

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
    if ignore_na:
        e = np.cumsum(v)
    else:
        e = np.arange(1, n + 1, dtype=np.float64)
    if w <= 0.0:
        # alpha == 1: the mean is just the last valid value (ffill)
        idx = np.where(valid, np.arange(n), -1)
        np.maximum.accumulate(idx, out=idx)
        num = np.where(idx >= 0, x[np.maximum(idx, 0)], np.nan)
        den = np.where(idx >= 0, 1.0, 0.0)
        return np.where(den > 0, num, 0.0), den, np.zeros(n)
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


def _ewma_noadjust(x, valid, alpha: float, ignore_na: bool, state=None):
    """Resumable replica of the reference adjust=False recursion
    (window.pyx:1732: new_wt=alpha, old_wt resets to 1 per valid)."""
    import numpy as np

    w = 1.0 - alpha
    n = len(x)
    out = np.full(n, np.nan)
    if state is None:
        avg, old_wt, have = np.nan, 1.0, False
    else:
        avg, old_wt = state
        have = not np.isnan(avg)
    for i in range(n):
        if valid[i]:
            if have:
                old_wt *= w
                if avg != x[i]:
                    avg = (old_wt * avg + alpha * x[i]) / (old_wt + alpha)
                old_wt = 1.0
            else:
                avg = x[i]
                have = True
                old_wt = 1.0
            out[i] = avg
        else:
            if (not ignore_na) and have:
                old_wt *= w
            out[i] = avg if have else np.nan
    return out, (avg, old_wt)


def ewm_mean_blocked(sdf: SparkDataFrame, order_col: Column, cols: list[str],
                     alpha: float, adjust: bool, ignore_na: bool,
                     n_blocks: int | None = None) -> SparkDataFrame:
    """Distributed ungrouped EWM mean. Replaces ``cols`` in place."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    w = 1.0 - alpha
    if w <= 0.0:
        # alpha == 1: every variant degenerates to last-valid-carried
        # (ffill) — the running-pick kernel is that exact shape
        out = running_pick_blocked(sdf, [order_col], cols, back=True,
                                   prefix="__ew_", block_key=order_col,
                                   n_blocks=n_blocks, carry_order=order_col)
        for c in cols:
            out = (out.withColumn(c, F.col(f"__ew_{c}").cast("double"))
                   .drop(f"__ew_{c}"))
        return out
    OC = "__ord__"
    mono = _is_order_id(order_col)
    sdf = _pin_if_order(sdf, order_col)
    base, aligned, _ = _blocked_base(sdf, order_col, n_blocks, mono)
    for c in cols:
        base = base.withColumn(c, F.col(c).cast("double"))
    in_schema = base.schema

    sum_schema = StructType([
        StructField("b", LongType()), StructField("col", StringType()),
        StructField("s1", DoubleType()), StructField("s2", DoubleType()),
        StructField("s3", DoubleType()),
        StructField("n_rows", LongType()), StructField("n_valid", LongType()),
        StructField("prefix", LongType()), StructField("trailing", LongType()),
    ])

    def summarize(key, pdf):
        pdf = pdf.sort_values(OC)
        rows = []
        b = int(key[0])
        for c in cols:
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            valid = ~np.isnan(x)
            n = len(x)
            nv = int(valid.sum())
            if adjust:
                num, den, decay = _ewma_adjust_parts(x, valid, w, ignore_na)
                rows.append((b, c, float(num[-1]) if n else 0.0,
                             float(den[-1]) if n else 0.0,
                             float(decay[-1]) if n else 1.0, n, nv, 0, 0))
            else:
                if nv == 0:
                    rows.append((b, c, 1.0, 0.0, np.nan, n, 0, n, n))
                else:
                    fv = int(np.argmax(valid))
                    lv = n - 1 - int(np.argmax(valid[::-1]))
                    tail_x, tail_v = x[fv + 1:], valid[fv + 1:]
                    b0, _ = _ewma_noadjust(tail_x, tail_v, alpha, ignore_na, (0.0, 1.0))
                    b1, _ = _ewma_noadjust(tail_x, tail_v, alpha, ignore_na, (1.0, 1.0))
                    e0 = b0[-1] if len(b0) else 0.0
                    e1 = b1[-1] if len(b1) else 1.0
                    rows.append((b, c, float(e1 - e0), float(e0), float(x[fv]),
                                 n, nv, fv, n - 1 - lv))
        return pd.DataFrame(rows, columns=[f.name for f in sum_schema.fields])

    # pass 1 ships only (block id, order, value columns) into the
    # Python worker — opaque UDFs block Spark's pruning (guide §4.1)
    summaries = _pass_summaries(base, [BLK, OC, *cols], summarize,
                                sum_schema, aligned)
    per = {}
    for r in summaries:
        per.setdefault(r["col"], {})[r["b"]] = r
    blks = sorted({r["b"] for r in summaries})

    # driver chain: ≤P steps per column
    states: dict[str, dict[int, tuple]] = {c: {} for c in cols}
    for c in cols:
        percol = per.get(c, {})
        if adjust:
            num_in = den_in = 0.0
            for b in blks:
                states[c][b] = (num_in, den_in)
                s = percol.get(b)
                if s is not None:
                    num_in = s["s1"] + s["s3"] * num_in
                    den_in = s["s2"] + s["s3"] * den_in
        else:
            avg, old_wt, have = np.nan, 1.0, False
            for b in blks:
                states[c][b] = (avg if have else np.nan, old_wt)
                s = percol.get(b)
                if s is None:
                    continue
                if s["n_valid"] == 0:
                    if (not ignore_na) and have:
                        old_wt *= w ** s["n_rows"]
                    continue
                K = old_wt * (w ** (s["prefix"] if not ignore_na else 0)) * w
                if have:
                    avg1 = (K * avg + alpha * s["s3"]) / (K + alpha)
                else:
                    avg1 = s["s3"]
                    have = True
                avg = s["s1"] * avg1 + s["s2"]
                old_wt = (w ** s["trailing"]) if not ignore_na else 1.0

    def evaluate(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        for c in cols:
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            valid = ~np.isnan(x)
            st = states[c].get(b)
            if adjust:
                num, den, decay = _ewma_adjust_parts(x, valid, w, ignore_na)
                if st is not None:
                    num = num + decay * st[0]
                    den = den + decay * st[1]
                with np.errstate(invalid="ignore", divide="ignore"):
                    y = np.where(den > 0, num / den, np.nan)
            else:
                st = (np.nan, 1.0) if st is None else st
                y, _ = _ewma_noadjust(x, valid, alpha, ignore_na,
                                      None if np.isnan(st[0]) else st)
            pdf[c] = y
        return pdf

    out = _pass_evaluate(base, evaluate, in_schema, aligned)
    return out.drop(BLK, OC)


def ewm_var_blocked(sdf: SparkDataFrame, order_col: Column, cols: list[str],
                    alpha: float, ignore_na: bool, std: bool = False,
                    n_blocks: int | None = None) -> SparkDataFrame:
    """Distributed ungrouped EWM variance/std for ``adjust=True`` (the
    pandas default). The debiased estimator is computed in its PAIRWISE
    form

        var_t = U_t / (2·T_t),
        U_t = Σ_{i<j} wᵢwⱼ (xᵢ−xⱼ)²,   T_t = Σ_{i<j} wᵢwⱼ

    (algebraically identical to (S0·S2−S1²)/(S0²−V2), but every term is
    NONNEGATIVE: no catastrophic cancellation when the history's weight
    decays toward machine epsilon — there the raw-sums form loses all
    precision, and the reference's own kernel returns an fp-noise value
    several % off the true one; fuzz-caught r7, seed 313370091). T and
    U are per-row affine chains with validity-pattern-only decay w²:
    the new observation pairs with the decayed prior mass, r_T = S0⁻,
    r_U = S2⁻ − 2x·S1⁻ + x²·S0⁻ over the PRIOR-ONLY sums (the shifted
    arrays — subtracting the own-observation terms back out would
    reintroduce the cancellation). T > 0 is the EXACT one-effective-
    observation test, replacing the r6 relative-epsilon guard. Block
    carries stay linear: T/U pick up dec²·T_in plus coefficient sums
    against the incoming S carries. Centering per block as before
    (U, T are shift-invariant; S carries re-center with the affine
    identities). Replaces ``cols`` in place; reference kernel
    window.pyx:1801."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    w = 1.0 - alpha
    OC = "__ord__"
    mono = _is_order_id(order_col)
    sdf = _pin_if_order(sdf, order_col)
    base, aligned, _ = _blocked_base(sdf, order_col, n_blocks, mono)
    for c in cols:
        base = base.withColumn(c, F.col(c).cast("double"))
    in_schema = base.schema

    sum_schema = StructType(
        [StructField("b", LongType()), StructField("col", StringType())]
        + [StructField(f, DoubleType()) for f in
           ("s0", "s1", "s2", "dec", "ref", "has",
            "ta", "tb", "ua", "ub1", "ub0")])

    def _exponents(valid, n):
        if ignore_na:
            return np.cumsum(valid.astype(np.float64))
        return np.arange(1, n + 1, dtype=np.float64)

    def _parts(x, valid, ref):
        xc = np.where(valid, x - ref, 0.0)
        s1, s0, dec = _ewma_adjust_parts(xc, valid, w, ignore_na)
        s2, _, _ = _ewma_adjust_parts(xc * xc, valid, w, ignore_na)
        return xc, s0, s1, s2, dec

    def _block_ref(x, valid):
        return float(x[np.argmax(valid)]) if valid.any() else 0.0

    def _pair_coeffs(xc, valid, s0, s1, s2, dec, e):
        """Block-local pieces of the pairwise chains: shifted (prior-
        only) local sums feed r; wrev = w^{2(E_n−E_t)} folds every row
        to the block end; decb = w^{E_{t−1}} is the coefficient any
        incoming S carry picks up inside r."""
        sd = w ** np.diff(e, prepend=0.0)
        S0b = sd * np.concatenate(([0.0], s0[:-1]))
        S1b = sd * np.concatenate(([0.0], s1[:-1]))
        S2b = sd * np.concatenate(([0.0], s2[:-1]))
        wrev = w ** (2.0 * (e[-1] - e))
        v = valid.astype(np.float64)
        # an incoming S carry appears inside r_t as sd_t·dec_{t-1}·S_in
        # = dec_t·S_in — the coefficient is the CURRENT row's decay
        ta = float(np.sum(wrev * v * S0b))
        tb = float(np.sum(wrev * v * dec))
        ua = float(np.sum(wrev * v * (S2b - 2.0 * xc * S1b + xc * xc * S0b)))
        ub1 = float(np.sum(wrev * v * dec * (-2.0 * xc)))
        ub0 = float(np.sum(wrev * v * dec * xc * xc))
        return ta, tb, ua, ub1, ub0

    def summarize(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        rows = []
        for c in cols:
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            valid = ~np.isnan(x)
            n = len(x)
            if n == 0:
                rows.append((b, c, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0,
                             0.0, 0.0, 0.0, 0.0, 0.0))
                continue
            ref = _block_ref(x, valid)
            xc, s0, s1, s2, dec = _parts(x, valid, ref)
            e = _exponents(valid, n)
            ta, tb, ua, ub1, ub0 = _pair_coeffs(xc, valid, s0, s1, s2, dec, e)
            rows.append((b, c, float(s0[-1]), float(s1[-1]), float(s2[-1]),
                         float(dec[-1]), ref, float(valid.any()),
                         ta, tb, ua, ub1, ub0))
        return pd.DataFrame(rows, columns=[f.name for f in sum_schema.fields])

    # pass 1 ships only (block id, order, value columns) — guide §4.1
    summaries = _pass_summaries(base, [BLK, OC, *cols], summarize,
                                sum_schema, aligned)
    per: dict = {}
    for r in summaries:
        per.setdefault(r["col"], {})[r["b"]] = r
    blks = sorted({r["b"] for r in summaries})

    # state[b] = (S0, S1, S2, T, U, ref): S sums centered at the SAME
    # reference the block uses; T/U are shift-invariant
    states: dict[str, dict[int, tuple]] = {c: {} for c in cols}
    for c in cols:
        S0 = S1 = S2 = T = U = 0.0
        cur_ref = None
        for b in blks:
            s = per.get(c, {}).get(b)
            ref = (s["ref"] if s is not None and s["has"] > 0
                   else (cur_ref if cur_ref is not None else 0.0))
            if cur_ref is not None and cur_ref != ref:
                d = cur_ref - ref
                S2 = S2 + 2.0 * d * S1 + d * d * S0
                S1 = S1 + d * S0
            states[c][b] = (S0, S1, S2, T, U, ref)
            if s is not None:
                dec2 = s["dec"] * s["dec"]
                # T/U first: their r terms use the INCOMING S carries
                T = dec2 * T + s["ta"] + s["tb"] * S0
                U = (dec2 * U + s["ua"] + s["ub1"] * S1 + s["ub0"] * S0
                     + s["tb"] * S2)
                S0 = s["s0"] + s["dec"] * S0
                S1 = s["s1"] + s["dec"] * S1
                S2 = s["s2"] + s["dec"] * S2
            cur_ref = ref

    def evaluate(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        for c in cols:
            x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
            valid = ~np.isnan(x)
            n = len(x)
            if n == 0:
                continue
            st = states[c].get(b)
            if st is not None and (st[0] > 0 or st[5] != 0.0):
                ref = st[5]
            else:
                ref = _block_ref(x, valid)
            S0in, S1in, S2in, Tin, Uin = (st[:5] if st is not None
                                          else (0.0, 0.0, 0.0, 0.0, 0.0))
            xc, s0, s1, s2, dec = _parts(x, valid, ref)
            s0 = s0 + dec * S0in
            s1 = s1 + dec * S1in
            s2 = s2 + dec * S2in
            e = _exponents(valid, n)
            sd = w ** np.diff(e, prepend=0.0)
            S0b = sd * np.concatenate(([S0in], s0[:-1]))
            S1b = sd * np.concatenate(([S1in], s1[:-1]))
            S2b = sd * np.concatenate(([S2in], s2[:-1]))
            v = valid.astype(np.float64)
            p = sd * sd
            T = _chain_solve(p, v * S0b, Tin)
            U = _chain_solve(p, v * (S2b - 2.0 * xc * S1b + xc * xc * S0b),
                             Uin)
            with np.errstate(invalid="ignore", divide="ignore"):
                var = np.where(T > 0.0, np.maximum(U, 0.0) / (2.0 * T),
                               np.nan)
            seen = (np.maximum.accumulate(valid.astype(np.int8)) > 0) \
                | (st is not None and st[0] > 0)
            var = np.where(seen, var, np.nan)
            pdf[c] = np.sqrt(var) if std else var
        return pdf

    out = _pass_evaluate(base, evaluate, in_schema, aligned)
    return out.drop(BLK, OC)


# ---------------------------------------------------------------------------
# EWM second moments, distributed: pairwise cov/corr (both adjust modes)
# and adjust=False var/std. Closes the last unguarded single-task surface
# (pre-r7 these fell back to coalesce(1) in window.EWM._run/_run_pairwise).
# Reference kernel: window.pyx:1802 ewmcov — per-observation recursion
#   p = W/(W+a) (adjust=False, W = w^gap; old_wt renormalized to 1) or
#   p = ow*W/(ow*W+1) (adjust=True), q = 1-p,
#   mean' = p*mean + q*x,
#   cov'  = p*(cov + (mean-mean')*(omean-omean')) + q*(x-mean')*(y-mean'),
#   sum_wt' / sum_wt2' track the debias factor sw^2/(sw^2-sw2).
# Debias denominator: with adjust=False renormalization sw == 1, so the
# reference's den = sw^2 - sw2 is 1-(≈1) — catastrophic right after a
# long gap (one effective observation, sw2 -> 1). This engine carries
# the COMPLEMENT dw = 1-sw2 through its own recursion instead:
#   dw' = 1 - (p^2*sw2 + q^2) = p^2*dw + 2pq      (p+q = 1)
# — all-positive terms, cancellation-free, same affine shape (multiplier
# p^2) as the sw2 chain it replaces. r10: at the degenerate rows the
# sw2 form was 1.4e-4 off a 60-digit replication of the reference
# recursion across a block carry; the dw form is exact there.
# adjust=True is a pure discounted-sum computation (no renormalization), so
# it rides the ewm_var_blocked machinery extended to pair sums.
# adjust=False renormalizes per observation, which breaks pure sums when
# NaN gaps meet ignore_na=False — but every per-observation update is
# AFFINE in the state with coefficients that depend only on the validity
# pattern, so per-block transitions are exactly representable: affine in
# (mean, sum_wt, cov) with a quadratic/bilinear mean correction captured
# by basis evaluation. Parallel summarize -> <=P-step driver fold ->
# parallel evaluate; no task ever sees more than one block.
# ---------------------------------------------------------------------------


def _chain_solve(p, r, init=0.0):
    """Vectorized s_j = p_j*s_{j-1} + r_j with s_{-1}=init, 0 <= p_j < 1.

    Log-space chunking keeps the cumulative-product trick in fp range:
    chunks are cut when the accumulated decay exceeds e^-250 (older
    contributions are < 1e-108 relative — below double noise), and an
    exact p_j == 0 (a gap long enough that w^gap underflowed) is an
    exact reset handled as a scalar step."""
    import numpy as np

    k = len(p)
    out = np.empty(k, dtype=np.float64)
    if k == 0:
        return out
    with np.errstate(divide="ignore"):
        lp = np.where(p > 0.0, np.log(p), -1e9)
    cl = np.cumsum(-lp)
    carry = float(init)
    start = 0
    CLOG = 250.0
    while start < k:
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


def _ewmf_scalar_step(state, x, y, d, alpha):
    """One observation of the adjust=False recursion (window.pyx:1802),
    applied driver-side at a block boundary. d = decay steps since the
    previous observation."""
    mx, my, cxy, cxx, cyy, sw, dw = state
    w = 1.0 - alpha
    W = w ** d
    p = W / (W + alpha)
    q = alpha / (W + alpha)
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
    return (nmx, nmy, ncxy, ncxx, ncyy, p * sw + q,
            p * p * dw + 2.0 * p * q)


def _ewmf_chains(xo, yo, d, alpha, cold, state, covs):
    """Per-observation chains of the adjust=False recursion over one
    block. xo/yo are CENTERED observation values (centering shifts both
    the data and the incoming means, to which every covariance is
    invariant — the constant-series case then stays exactly zero).
    state = centered (mx, my, cxy, cxx, cyy, sw, dw); ignored when
    cold (dw = 1 - sum_wt2, the cancellation-free debias complement).
    Returns per-obs arrays for mx, my, sw, dw + requested covs."""
    import numpy as np

    w = 1.0 - alpha
    W = w ** d
    p = W / (W + alpha)
    q = alpha / (W + alpha)
    if cold:
        p[0], q[0] = 0.0, 1.0
    mx0, my0, cxy0, cxx0, cyy0, sw0, dw0 = state
    mx = _chain_solve(p, q * xo, mx0)
    my = _chain_solve(p, q * yo, my0)
    mxm1 = np.concatenate(([mx0], mx[:-1]))
    mym1 = np.concatenate(([my0], my[:-1]))
    out = {"mx": mx, "my": my}
    if "xy" in covs:
        rc = p * (mxm1 - mx) * (mym1 - my) + q * (xo - mx) * (yo - my)
        out["xy"] = _chain_solve(p, rc, cxy0)
    if "xx" in covs:
        rc = p * (mxm1 - mx) ** 2 + q * (xo - mx) ** 2
        out["xx"] = _chain_solve(p, rc, cxx0)
    if "yy" in covs:
        rc = p * (mym1 - my) ** 2 + q * (yo - my) ** 2
        out["yy"] = _chain_solve(p, rc, cyy0)
    out["sw"] = _chain_solve(p, q, sw0)
    out["dw"] = _chain_solve(p * p, 2.0 * p * q, dw0)
    return out


def _ewmf_tail_transition(xo, yo, d, alpha, covs):
    """Block transition over the tail observations (everything after the
    block's first observation; the first observation is applied by the
    driver fold as one exact scalar step, because its decay gap depends
    on the still-unknown cross-block pregap).

    Every chain is affine in its own incoming value with a coefficient
    A = prod(p_j) that depends only on the validity pattern; the cov
    chains additionally pick up a quadratic (xx/yy) or bilinear (xy)
    correction in the incoming CENTERED means, recovered exactly by
    basis evaluation (the transition is a polynomial, so finitely many
    evaluations determine it)."""
    import numpy as np

    k = len(xo)
    res = {"a": 1.0, "a2": 1.0, "bx": 0.0, "by": 0.0, "bs": 0.0, "bs2": 0.0,
           "gxy": (0.0, 0.0, 0.0, 0.0), "gxx": (0.0, 0.0, 0.0),
           "gyy": (0.0, 0.0, 0.0)}
    if k == 0:
        return res
    w = 1.0 - alpha
    W = w ** d
    p = W / (W + alpha)
    q = alpha / (W + alpha)
    with np.errstate(divide="ignore"):
        lp = np.where(p > 0.0, np.log(p), -np.inf)
    res["a"] = a = float(np.exp(np.sum(lp)))
    res["a2"] = a * a
    bx_arr = _chain_solve(p, q * xo, 0.0)
    by_arr = _chain_solve(p, q * yo, 0.0)
    res["bx"] = float(bx_arr[-1])
    res["by"] = float(by_arr[-1])
    res["bs"] = float(_chain_solve(p, q, 0.0)[-1])
    # dw-chain tail constant (see module comment: dw' = p²·dw + 2pq)
    res["bs2"] = float(_chain_solve(p * p, 2.0 * p * q, 0.0)[-1])
    with np.errstate(invalid="ignore"):
        cp = np.exp(np.cumsum(lp))

    def covF(a0, b0, which):
        mx = cp * a0 + bx_arr
        my = cp * b0 + by_arr
        mxm1 = np.concatenate(([a0], mx[:-1]))
        mym1 = np.concatenate(([b0], my[:-1]))
        if which == "xy":
            rc = p * (mxm1 - mx) * (mym1 - my) + q * (xo - mx) * (yo - my)
        elif which == "xx":
            rc = p * (mxm1 - mx) ** 2 + q * (xo - mx) ** 2
        else:
            rc = p * (mym1 - my) ** 2 + q * (yo - my) ** 2
        return float(_chain_solve(p, rc, 0.0)[-1])

    # basis scale ~ data magnitude so the finite differences don't
    # cancel significant digits
    s = max(1.0, float(np.max(np.abs(xo))), float(np.max(np.abs(yo))))
    if "xy" in covs:
        f00 = covF(0.0, 0.0, "xy")
        f10 = covF(s, 0.0, "xy")
        f01 = covF(0.0, s, "xy")
        f11 = covF(s, s, "xy")
        res["gxy"] = (f00, (f10 - f00) / s, (f01 - f00) / s,
                      (f11 - f10 - f01 + f00) / (s * s))
    if "xx" in covs:
        f0 = covF(0.0, 0.0, "xx")
        f1 = covF(s, 0.0, "xx")
        f2 = covF(2.0 * s, 0.0, "xx")
        h2 = (f2 - 2.0 * f1 + f0) / (2.0 * s * s)
        res["gxx"] = (f0, (f1 - f0) / s - h2 * s, h2)
    if "yy" in covs:
        f0 = covF(0.0, 0.0, "yy")
        f1 = covF(0.0, s, "yy")
        f2 = covF(0.0, 2.0 * s, "yy")
        h2 = (f2 - 2.0 * f1 + f0) / (2.0 * s * s)
        res["gyy"] = (f0, (f1 - f0) / s - h2 * s, h2)
    return res


def _ewmf_stat(stat, sw, dw, xy=None, xx=None, yy=None):
    """Final statistic from chain values (arrays or scalars). The
    reference's debias factor is sw²/(sw²−sw2); adjust=False keeps
    sw ≡ 1 (p+q = 1), so the denominator is exactly the carried
    complement dw = 1−sw2 — evaluated directly, never as a 1−(≈1)
    difference (r10 precision fix). corr is the bias=True ratio (the
    factor cancels)."""
    import numpy as np

    with np.errstate(invalid="ignore", divide="ignore"):
        if stat == "corr":
            out = np.asarray(xy) / np.sqrt(np.asarray(xx) * np.asarray(yy))
        else:
            src = xx if stat in ("var", "std") else xy
            den = np.asarray(dw, dtype=np.float64)
            out = np.where(den > 0.0, np.asarray(src) / den, np.nan)
            if stat == "std":
                out = np.sqrt(out)
    return out


def ewm_noadjust_blocked(sdf: SparkDataFrame, order_col: Column, specs,
                         alpha: float, ignore_na: bool,
                         n_blocks: int | None = None) -> SparkDataFrame:
    """Distributed ungrouped ``ewm(adjust=False)`` second moments.

    specs: list of ("var"|"std", col, out_col) or
    ("cov"|"corr", col_x, col_y, out_col); out_col == source col
    replaces in place. All specs share one block partition, one
    summarize job and one evaluation pass. Replaces the pre-r7
    coalesce(1) fallback (window.py EWM._run) — the last unguarded
    single-task surface. Reference recursion: window.pyx:1802 ewmcov."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StringType, StructField, StructType)

    # component = one (x, y, validity) chain family; specs may share
    comps: dict[str, tuple] = {}
    for sp in specs:
        if sp[0] in ("var", "std"):
            key, cx, cy, need = f"v:{sp[1]}", sp[1], sp[1], ("xx",)
        else:
            key, cx, cy = f"p:{sp[1]}:{sp[2]}", sp[1], sp[2]
            need = ("xy",) if sp[0] == "cov" else ("xy", "xx", "yy")
        if key in comps:
            old = comps[key]
            comps[key] = (old[0], old[1], tuple(sorted(set(old[2]) | set(need))))
        else:
            comps[key] = (cx, cy, need)

    if alpha >= 1.0:
        # w == 0: one effective observation forever -> every unbiased
        # second moment (and corr = 0/0) is NaN, as the reference
        out = sdf
        for sp in specs:
            oc = sp[2] if sp[0] in ("var", "std") else sp[3]
            out = out.withColumn(oc, F.lit(None).cast("double"))
        return out

    OC = "__ord__"
    mono = _is_order_id(order_col)
    sdf = _pin_if_order(sdf, order_col)
    base, aligned, _ = _blocked_base(sdf, order_col, n_blocks, mono)
    for c in {c for cx, cy, _ in comps.values() for c in (cx, cy)}:
        base = base.withColumn(c, F.col(c).cast("double"))
    in_schema = base.schema
    comp_items = sorted(comps.items())

    sum_schema = StructType(
        [StructField("b", LongType()), StructField("comp", StringType()),
         StructField("n_rows", LongType()), StructField("k", LongType()),
         StructField("pos0", LongType()), StructField("trail", LongType()),
         StructField("x0", DoubleType()), StructField("y0", DoubleType()),
         StructField("has", BooleanType())]
        + [StructField(f, DoubleType()) for f in
           ("a", "a2", "bx", "by", "bs", "bs2",
            "gxy0", "gxy1", "gxy2", "gxy3",
            "gxx0", "gxx1", "gxx2", "gyy0", "gyy1", "gyy2")])

    def _obs(pdf, cx, cy):
        x = pdf[cx].to_numpy(dtype=np.float64, na_value=np.nan)
        y = pdf[cy].to_numpy(dtype=np.float64, na_value=np.nan)
        valid = ~(np.isnan(x) | np.isnan(y))
        pos = np.flatnonzero(valid)
        return x, y, pos

    def summarize(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        n = len(pdf)
        rows = []
        for ckey, (cx, cy, need) in comp_items:
            x, y, pos = _obs(pdf, cx, cy)
            if len(pos) == 0:
                rows.append((b, ckey, n, 0, 0, 0, 0.0, 0.0, False)
                            + (1.0, 1.0) + (0.0,) * 14)
                continue
            p0 = int(pos[0])
            x0, y0 = float(x[p0]), float(y[p0])
            xo = x[pos] - x0
            yo = y[pos] - y0
            d_tail = (np.diff(pos).astype(np.float64) if not ignore_na
                      else np.ones(len(pos) - 1))
            t = _ewmf_tail_transition(xo[1:], yo[1:], d_tail, alpha, need)
            rows.append((b, ckey, n, len(pos), p0, n - 1 - int(pos[-1]),
                         x0, y0, True,
                         t["a"], t["a2"], t["bx"], t["by"], t["bs"], t["bs2"])
                        + tuple(t["gxy"]) + tuple(t["gxx"]) + tuple(t["gyy"]))
        return pd.DataFrame(rows, columns=[f.name for f in sum_schema.fields])

    # pass 1 ships only (block id, order, chain input columns) —
    # guide §4.1
    summaries = _pass_summaries(
        base,
        [BLK, OC, *sorted({c for cx, cy, _ in comps.values()
                           for c in (cx, cy)})],
        summarize, sum_schema, aligned)
    per: dict = {}
    for r in summaries:
        per.setdefault(r["comp"], {})[r["b"]] = r
    blks = sorted({r["b"] for r in summaries})

    # driver fold: <=P exact scalar steps + affine tail transitions.
    # incoming[comp][b] = (uncentered state tuple or None, pregap)
    incoming: dict[str, dict[int, tuple]] = {}
    for ckey, _ in comp_items:
        state, pregap = None, 0
        incoming[ckey] = {}
        for b in blks:
            incoming[ckey][b] = (state, pregap)
            s = per.get(ckey, {}).get(b)
            if s is None:
                continue
            if not s["has"]:
                if (not ignore_na) and state is not None:
                    pregap += s["n_rows"]
                continue
            x0, y0 = s["x0"], s["y0"]
            if state is None:
                # after the first observation: sw = 1, dw = 1-sw2 = 0
                st = (x0, y0, 0.0, 0.0, 0.0, 1.0, 0.0)
            else:
                d0 = 1.0 if ignore_na else float(pregap + s["pos0"] + 1)
                st = _ewmf_scalar_step(state, x0, y0, d0, alpha)
            cx_, cy_ = st[0] - x0, st[1] - y0
            mx = s["a"] * cx_ + s["bx"] + x0
            my = s["a"] * cy_ + s["by"] + y0
            cxy = (s["a"] * st[2] + s["gxy0"] + s["gxy1"] * cx_
                   + s["gxy2"] * cy_ + s["gxy3"] * cx_ * cy_)
            cxx = (s["a"] * st[3] + s["gxx0"] + s["gxx1"] * cx_
                   + s["gxx2"] * cx_ * cx_)
            cyy = (s["a"] * st[4] + s["gyy0"] + s["gyy1"] * cy_
                   + s["gyy2"] * cy_ * cy_)
            sw = s["a"] * st[5] + s["bs"]
            dw = s["a2"] * st[6] + s["bs2"]
            state = (mx, my, cxy, cxx, cyy, sw, dw)
            pregap = 0 if ignore_na else int(s["trail"])

    out_schema = StructType(
        in_schema.fields
        + [StructField(sp[3], DoubleType()) for sp in specs
           if sp[0] in ("cov", "corr") and sp[3] not in in_schema.fieldNames()])

    def evaluate(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        n = len(pdf)
        cvals: dict[str, dict] = {}
        for ckey, (cx, cy, need) in comp_items:
            x, y, pos = _obs(pdf, cx, cy)
            state, pregap = incoming[ckey].get(b, (None, 0))
            cold = state is None
            # incoming output value carried through obs-free prefixes
            if cold:
                in_vals = {t: np.nan for t in ("sw", "dw", "xy", "xx", "yy")}
            else:
                in_vals = {"xy": state[2], "xx": state[3], "yy": state[4],
                           "sw": state[5], "dw": state[6]}
            if len(pos) == 0:
                cvals[ckey] = {"pos": pos, "chains": None, "in": in_vals}
                continue
            p0 = int(pos[0])
            x0, y0 = float(x[p0]), float(y[p0])
            xo = x[pos] - x0
            yo = y[pos] - y0
            d = (np.diff(pos).astype(np.float64) if not ignore_na
                 else np.ones(len(pos) - 1))
            if cold:
                d0 = 1.0
                cstate = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
            else:
                d0 = 1.0 if ignore_na else float(pregap + p0 + 1)
                cstate = (state[0] - x0, state[1] - y0, state[2], state[3],
                          state[4], state[5], state[6])
            d = np.concatenate(([d0], d))
            cvals[ckey] = {"pos": pos,
                           "chains": _ewmf_chains(xo, yo, d, alpha, cold,
                                                  cstate, need),
                           "in": in_vals}
        out_cols = {}
        for sp in specs:
            stat = sp[0]
            ckey = (f"v:{sp[1]}" if stat in ("var", "std")
                    else f"p:{sp[1]}:{sp[2]}")
            ocol = sp[2] if stat in ("var", "std") else sp[3]
            cv = cvals[ckey]
            iv = cv["in"]
            in_val = float(_ewmf_stat(stat, iv["sw"], iv["dw"], iv["xy"],
                                      iv["xx"], iv["yy"]))
            ch = cv["chains"]
            if ch is None:
                out_cols[ocol] = np.full(n, in_val)
                continue
            obs_out = _ewmf_stat(stat, ch["sw"], ch["dw"], ch.get("xy"),
                                 ch.get("xx"), ch.get("yy"))
            idx = np.searchsorted(cv["pos"], np.arange(n), side="right")
            vals = np.concatenate(([in_val], np.asarray(obs_out)))
            out_cols[ocol] = vals[idx]
        for ocol, vals in out_cols.items():
            pdf[ocol] = vals
        return pdf

    out = _pass_evaluate(base, evaluate, out_schema, aligned)
    return out.drop(BLK, OC)


def ewm_pairwise_adjust_blocked(sdf: SparkDataFrame, order_col: Column,
                                col_x: str, col_y: str, out_col: str,
                                alpha: float, ignore_na: bool,
                                corr: bool = False,
                                n_blocks: int | None = None,
                                specs: list | None = None) -> SparkDataFrame:
    """Distributed ungrouped ``ewm(adjust=True).cov/corr`` in PAIRWISE
    form (see ewm_var_blocked):

        cov_t  = U_t / (2·T_t),   U_t = Σ_{i<j} wᵢwⱼ (xᵢ−xⱼ)(yᵢ−yⱼ),
        corr_t = Uxy / sqrt(Uxx·Uyy)   (the bias=True ratio — the
                 debias factor cancels),
        T_t    = Σ_{i<j} wᵢwⱼ

    — algebraically identical to the raw-sums estimator but without
    catastrophic cancellation when history weight decays toward machine
    epsilon, and with T > 0 as the EXACT one-effective-observation NaN
    rule. An observation requires BOTH columns (the reference's
    is_observation). NOTE a deliberate divergence from the 0.24-dev
    reference for corr: the reference composes corr from ewmcov(x, x)
    variance legs with SINGLE-column validity (core/window.py:2326),
    while this engine masks ALL THREE components pairwise — the
    behavior of modern pandas 2.x, which the test oracle pins. Do not
    "fix" the legs back to single-column validity.
    Per-row chains with validity-pattern-only w² decay; linear block
    carries with coefficient sums against the incoming centered S
    carries. Reference kernel: window.pyx:1802."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (BooleanType, DoubleType, LongType,
                                   StructField, StructType)

    # specs: [(stat, out_col), ...] computes cov AND corr on the pair
    # in ONE pass (r9 — every sum corr needs is already produced; the
    # chained two-call form paid two summarize+evaluate passes)
    specs = specs if specs is not None else [("corr" if corr else "cov",
                                              out_col)]
    corr_any = any(st == "corr" for st, _ in specs)
    w = 1.0 - alpha
    if w <= 0.0:
        # one effective observation forever: unbiased cov and corr NaN
        for _, oc in specs:
            sdf = sdf.withColumn(oc, F.lit(None).cast("double"))
        return sdf
    OC = "__ord__"
    mono = _is_order_id(order_col)
    sdf = _pin_if_order(sdf, order_col)
    base, aligned, _ = _blocked_base(sdf, order_col, n_blocks, mono)
    for c in {col_x, col_y}:
        base = base.withColumn(c, F.col(c).cast("double"))
    in_schema = base.schema

    sum_schema = StructType(
        [StructField("b", LongType()), StructField("has", BooleanType())]
        + [StructField(f, DoubleType()) for f in
           ("s0", "sx", "sy", "sxy", "sxx", "syy", "dec", "refx", "refy",
            "ta", "tb", "uaxy", "ubx_y", "uby_x", "ub0xy",
            "uaxx", "ubx1", "ubx0", "uayy", "uby1", "uby0")])

    def _exponents(valid, n):
        if ignore_na:
            return np.cumsum(valid.astype(np.float64))
        return np.arange(1, n + 1, dtype=np.float64)

    def _valid(pdf):
        x = pdf[col_x].to_numpy(dtype=np.float64, na_value=np.nan)
        y = pdf[col_y].to_numpy(dtype=np.float64, na_value=np.nan)
        return x, y, ~(np.isnan(x) | np.isnan(y))

    def _parts(x, y, valid, refx, refy):
        xc = np.where(valid, x - refx, 0.0)
        yc = np.where(valid, y - refy, 0.0)
        sx, s0, dec = _ewma_adjust_parts(xc, valid, w, ignore_na)
        sy, _, _ = _ewma_adjust_parts(yc, valid, w, ignore_na)
        sxy, _, _ = _ewma_adjust_parts(xc * yc, valid, w, ignore_na)
        sxx, _, _ = _ewma_adjust_parts(xc * xc, valid, w, ignore_na)
        syy, _, _ = _ewma_adjust_parts(yc * yc, valid, w, ignore_na)
        return xc, yc, s0, sx, sy, sxy, sxx, syy, dec

    def _shift(arr, first, sd):
        return sd * np.concatenate(([first], arr[:-1]))

    def summarize(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        x, y, valid = _valid(pdf)
        n = len(x)
        cols_ = [f.name for f in sum_schema.fields]
        if n == 0 or not valid.any():
            row = ([b, False] + [0.0] * 6
                   + [float(w ** (0 if ignore_na else n)), 0.0, 0.0]
                   + [0.0] * 12)
            return pd.DataFrame([row], columns=cols_)
        fv = int(np.argmax(valid))
        refx, refy = float(x[fv]), float(y[fv])
        xc, yc, s0, sx, sy, sxy, sxx, syy, dec = _parts(x, y, valid, refx, refy)
        e = _exponents(valid, n)
        sd = w ** np.diff(e, prepend=0.0)
        wrev = w ** (2.0 * (e[-1] - e))
        v = valid.astype(np.float64)
        S0b = _shift(s0, 0.0, sd)
        SXb = _shift(sx, 0.0, sd)
        SYb = _shift(sy, 0.0, sd)
        SXYb = _shift(sxy, 0.0, sd)
        SXXb = _shift(sxx, 0.0, sd)
        SYYb = _shift(syy, 0.0, sd)
        wv = wrev * v
        wd = wv * dec  # carry coefficient (= sd_t * dec_{t-1})
        row = [b, True, float(s0[-1]), float(sx[-1]), float(sy[-1]),
               float(sxy[-1]), float(sxx[-1]), float(syy[-1]),
               float(dec[-1]), refx, refy,
               float(np.sum(wv * S0b)),                       # ta
               float(np.sum(wd)),                             # tb
               float(np.sum(wv * (SXYb - xc * SYb - yc * SXb
                                  + xc * yc * S0b))),         # uaxy
               float(np.sum(wd * (-yc))),                     # ubx_y (SX_in)
               float(np.sum(wd * (-xc))),                     # uby_x (SY_in)
               float(np.sum(wd * xc * yc)),                   # ub0xy (S0_in)
               float(np.sum(wv * (SXXb - 2.0 * xc * SXb
                                  + xc * xc * S0b))),         # uaxx
               float(np.sum(wd * (-2.0 * xc))),               # ubx1
               float(np.sum(wd * xc * xc)),                   # ubx0
               float(np.sum(wv * (SYYb - 2.0 * yc * SYb
                                  + yc * yc * S0b))),         # uayy
               float(np.sum(wd * (-2.0 * yc))),               # uby1
               float(np.sum(wd * yc * yc))]                   # uby0
        return pd.DataFrame([row], columns=cols_)

    # pass 1 ships only (block id, order, x, y) — guide §4.1
    summaries = _pass_summaries(base, [BLK, OC, *sorted({col_x, col_y})],
                                summarize, sum_schema, aligned)
    per = {r["b"]: r for r in summaries}
    blks = sorted(per)

    # states[b] = (S0, SX, SY, SXY, SXX, SYY, T, Uxy, Uxx, Uyy, refx,
    # refy) — S centered at the block's refs; T/U shift-invariant
    states: dict[int, tuple] = {}
    S0 = SX = SY = SXY = SXX = SYY = T = Uxy = Uxx = Uyy = 0.0
    cur = None
    for b in blks:
        s = per[b]
        ref = ((s["refx"], s["refy"]) if s["has"]
               else (cur if cur is not None else (0.0, 0.0)))
        if cur is not None and cur != ref:
            dx, dy = cur[0] - ref[0], cur[1] - ref[1]
            SXY = SXY + dy * SX + dx * SY + dx * dy * S0
            SXX = SXX + 2.0 * dx * SX + dx * dx * S0
            SYY = SYY + 2.0 * dy * SY + dy * dy * S0
            SX = SX + dx * S0
            SY = SY + dy * S0
        states[b] = (S0, SX, SY, SXY, SXX, SYY, T, Uxy, Uxx, Uyy,
                     ref[0], ref[1])
        dec2 = s["dec"] * s["dec"]
        # T/U first: their carry terms use the INCOMING S sums
        T = dec2 * T + s["ta"] + s["tb"] * S0
        Uxy = (dec2 * Uxy + s["uaxy"] + s["ubx_y"] * SX + s["uby_x"] * SY
               + s["ub0xy"] * S0 + s["tb"] * SXY)
        Uxx = (dec2 * Uxx + s["uaxx"] + s["ubx1"] * SX + s["ubx0"] * S0
               + s["tb"] * SXX)
        Uyy = (dec2 * Uyy + s["uayy"] + s["uby1"] * SY + s["uby0"] * S0
               + s["tb"] * SYY)
        S0 = s["s0"] + s["dec"] * S0
        SX = s["sx"] + s["dec"] * SX
        SY = s["sy"] + s["dec"] * SY
        SXY = s["sxy"] + s["dec"] * SXY
        SXX = s["sxx"] + s["dec"] * SXX
        SYY = s["syy"] + s["dec"] * SYY
        cur = ref

    out_schema = StructType(in_schema.fields
                            + [StructField(oc, DoubleType())
                               for _, oc in specs
                               if oc not in in_schema.fieldNames()])

    def evaluate(key, pdf):
        pdf = pdf.sort_values(OC)
        b = int(key[0])
        x, y, valid = _valid(pdf)
        n = len(x)
        if n == 0:
            for _, oc in specs:
                pdf[oc] = np.empty(0)
            return pdf
        st = states.get(b)
        if st is not None and st[0] > 0:
            refx, refy = st[10], st[11]
        elif valid.any():
            fv = int(np.argmax(valid))
            refx, refy = float(x[fv]), float(y[fv])
        else:
            for _, oc in specs:
                pdf[oc] = np.full(n, np.nan)
            return pdf
        (S0in, SXin, SYin, SXYin, SXXin, SYYin,
         Tin, Uxyin, Uxxin, Uyyin) = (st[:10] if st is not None
                                      else (0.0,) * 10)
        xc, yc, s0, sx, sy, sxy, sxx, syy, dec = _parts(x, y, valid, refx, refy)
        s0 = s0 + dec * S0in
        sx = sx + dec * SXin
        sy = sy + dec * SYin
        sxy = sxy + dec * SXYin
        sxx = sxx + dec * SXXin
        syy = syy + dec * SYYin
        e = _exponents(valid, n)
        sd = w ** np.diff(e, prepend=0.0)
        S0b = _shift(s0, S0in, sd)
        SXb = _shift(sx, SXin, sd)
        SYb = _shift(sy, SYin, sd)
        SXYb = _shift(sxy, SXYin, sd)
        v = valid.astype(np.float64)
        p = sd * sd
        T = _chain_solve(p, v * S0b, Tin)
        Uxy = _chain_solve(
            p, v * (SXYb - xc * SYb - yc * SXb + xc * yc * S0b), Uxyin)
        with np.errstate(invalid="ignore", divide="ignore"):
            if corr_any:
                SXXb = _shift(sxx, SXXin, sd)
                SYYb = _shift(syy, SYYin, sd)
                Uxx = _chain_solve(
                    p, v * (SXXb - 2.0 * xc * SXb + xc * xc * S0b), Uxxin)
                Uyy = _chain_solve(
                    p, v * (SYYb - 2.0 * yc * SYb + yc * yc * S0b), Uyyin)
            seen = (np.maximum.accumulate(valid.astype(np.int8)) > 0) \
                | (st is not None and st[0] > 0)
            for stat, oc in specs:
                if stat == "corr":
                    out = Uxy / np.sqrt(np.maximum(Uxx, 0.0)
                                        * np.maximum(Uyy, 0.0))
                else:
                    out = np.where(T > 0.0, Uxy / (2.0 * T), np.nan)
                pdf[oc] = np.where(seen, out, np.nan)
        return pdf

    out = _pass_evaluate(base, evaluate, out_schema, aligned)
    return out.drop(BLK, OC)
