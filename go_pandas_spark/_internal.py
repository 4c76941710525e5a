"""Internal representation shared by Frame/Series/GroupBy.

Model (SURVEY.md §1.4, §7 invariant 1): a pandas-like frame is a Spark
DataFrame holding

- zero or more **index columns** ``__index_0__ .. __index_{k-1}__``
  (zero means "positional RangeIndex analog" — nothing materialized),
- a **natural-order column** ``__order__`` (monotonically increasing,
  attached once at construction; the RangeIndex / row-order contract
  for iloc/head/shift/keep='first' semantics), and
- the user-visible **data columns** under their own label names.

All label-aligned binary ops between different frames become
full-outer equi-joins on the index columns; positional ops become
window functions ordered by ``__order__``.

Reference parity: pandas BlockManager/Index internals
(``pandas/core/internals/managers.py:42``,
``pandas/core/indexes/base.py:164``) are replaced wholesale by this
logical mapping — physical layout belongs to Tungsten/Arrow.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDataFrame, functions as F

ORDER_COL = "__order__"
INDEX_PREFIX = "__index_"


def index_col(i: int) -> str:
    return f"{INDEX_PREFIX}{i}__"


def is_internal(name: str) -> bool:
    return name == ORDER_COL or name.startswith(INDEX_PREFIX)


def is_index_col(name: str) -> bool:
    return name.startswith(INDEX_PREFIX)


def attach_order(sdf: SparkDataFrame) -> SparkDataFrame:
    """Attach the natural-order column if missing.

    ``monotonically_increasing_id`` is a narrow (no-shuffle) op and
    encodes (partition_id, offset) — it preserves source row order per
    partition and orders partitions by id, which is the strongest
    order contract a distributed scan can give. This is the analog of
    the reference's lazy RangeIndex (``pandas/core/indexes/range.py:27``).
    """
    if ORDER_COL in sdf.columns:
        return sdf
    return sdf.withColumn(ORDER_COL, F.monotonically_increasing_id())


def data_columns(sdf: SparkDataFrame) -> list[str]:
    return [c for c in sdf.columns if not is_internal(c)]


def index_columns(sdf: SparkDataFrame) -> list[str]:
    return sorted(c for c in sdf.columns if c.startswith(INDEX_PREFIX))


def scol_of(sdf: SparkDataFrame, name: str) -> Column:
    return sdf[name]


# semanticHash -> the persisted DataFrame, insertion/use-ordered so the
# oldest entry is the LRU eviction candidate (see _maybe_evict_pins)
_PINNED: dict = {}
# entry cap for _PINNED (r11): pins beyond this are unpersisted oldest-
# first, but ONLY while no blocked-output Frame is live — evicting a pin
# a pending lazy plan references would reopen the AQE order-id race, so
# eviction is deferred until the workload's frames die (a long-lived
# service holding frames across queries drains at the next pin after it
# drops them). 64 full-width MEMORY_AND_DISK pins is the storage budget
# line SCALE.md carries for a diverse no-barrier query stream.
_PINNED_MAX = 64

# live blocked-output Frames (weak — entries vanish when the user drops
# the frame). A pin may be referenced by any of these frames' pending
# lazy plans, so both the clear_cache() barrier and LRU eviction treat
# "any live blocked frame" as "some pin may be live". Keyed by id()
# in a WeakValueDictionary, NOT a WeakSet: re-registering the same
# frame (the Series escalation path marks its anchor frame once per
# op) makes a WeakSet compare two refs to one referent via ==, which
# is ELEMENTWISE on Frame and explodes in bool() (r11 fuzz-caught).
import weakref  # noqa: E402

_LIVE_BLOCKED: "weakref.WeakValueDictionary" = weakref.WeakValueDictionary()

# registry size at the last over-cap gc attempt (rate limit — see
# _maybe_evict_pins); reset when eviction actually runs. _GC_STEP is
# how many pins of over-cap growth re-arm the next gc attempt.
_GC_AT = 0
_GC_STEP = 8


def register_live_blocked(obj) -> None:
    _LIVE_BLOCKED[id(obj)] = obj


class _BlockedGuard:
    """Liveness sentinel for multi-pin kernel builds."""


def blocked_guard() -> _BlockedGuard:
    """Register a sentinel in ``_LIVE_BLOCKED`` for as long as the
    caller holds the returned object — kernels that pin repeatedly
    inside ONE API call (Frame.rank's per-column loop) hold one in a
    local so LRU eviction can't unpersist their earlier pins mid-
    build; it dies with the caller's stack frame, after the output
    frame itself is registered via mark_blocked_output."""
    g = _BlockedGuard()
    register_live_blocked(g)
    return g


def _maybe_evict_pins() -> int:
    """Shrink ``_PINNED`` to ``_PINNED_MAX`` entries, oldest first —
    called on every new pin. Eviction only runs while NO blocked-output
    frame is alive: a collected (or dropped) consumer means the pin's
    remaining role is cache, and recompute-through-frozen-lineage
    (unpersist → the plan replays) is the documented eviction story;
    a live consumer means the pin may still feed an un-collected plan
    whose order ids must not shift. Because a chained query's own
    intermediate frames are alive while it pins, the steady-state
    bound is ``_PINNED_MAX`` + the current query's pin count (a few
    entries) — eviction fires at the NEXT query's first pin, once the
    previous chain's frames are dropped. Returns the number evicted."""
    global _GC_AT
    if len(_PINNED) <= _PINNED_MAX:
        # back under the cap (e.g. clear_cache drained _PINNED while
        # blocked frames were live): a stale high-water _GC_AT would
        # defer the next cycle-collecting gc until the registry regrew
        # past it, transiently exceeding the documented bound
        _GC_AT = 0
        return 0
    if len(_LIVE_BLOCKED) > 0 and \
            len(_PINNED) >= max(_GC_AT + _GC_STEP, _PINNED_MAX + 1):
        # Frames held only by reference cycles keep the registry
        # populated until an automatic gc run, indefinitely deferring
        # eviction — the _PINNED_MAX bound would be advisory, not
        # guaranteed (ADVICE r11 #2). Collect before judging, like
        # clear_cache — but RATE-LIMITED to once per 8 pins of growth
        # past the cap: a full gc.collect() costs ~100 ms, and a
        # chained blocked kernel pinning dozens of times while its own
        # frames are legitimately live would otherwise pay it on EVERY
        # pin (r12-measured: +7 s on the two fused-moments bench
        # queries). Bound becomes _PINNED_MAX + _GC_STEP + in-flight.
        import gc

        gc.collect()
        _GC_AT = len(_PINNED)
    if len(_LIVE_BLOCKED) > 0:
        return 0
    _GC_AT = 0
    n = 0
    while len(_PINNED) > _PINNED_MAX:
        key = next(iter(_PINNED))
        try:
            _PINNED.pop(key).unpersist()
        except Exception:  # noqa: BLE001 — session may be stopped
            pass
        n += 1
    return n


def clear_cache(force: bool = False) -> dict:
    """Release every session-lifetime storage entry the engine holds:
    ``pin_order`` persists, the distwindow driver-table memo, and the
    dedup gram/signature caches. Returns counts of what was dropped.

    This is a BARRIER API — call it between queries, never while a
    lazy plan built from a pinned relation is still un-collected:
    unpersisting a pin that a pending plan references reopens the
    AQE order-id race ``pin_order`` exists to close (the plan would
    recompute ids under a possibly different coalesce). The intended
    deployment shape is job-per-query (nothing to clear; the session
    dies) or a long-lived service calling ``clear_cache()`` at query
    boundaries. Storage budget model: SCALE.md "Session storage
    budget".

    Misuse guard (r11): when any blocked-output Frame is still alive,
    some pin may feed that frame's un-collected lazy plan — clearing
    now can silently shift its order ids. The barrier WARNS (and still
    proceeds, matching the documented caller-owns-the-boundary
    contract) unless ``force=True``. Drop or collect outstanding
    frames before the barrier to clear silently."""
    if len(_LIVE_BLOCKED) > 0:
        import gc

        gc.collect()  # drop cycle-held frames before judging liveness
    live = len(_LIVE_BLOCKED)
    if live and not force:
        import warnings

        warnings.warn(
            f"clear_cache() called while {live} blocked-output frame(s) "
            "are still alive — if any has an un-collected plan, its "
            "order ids may silently shift (the AQE race pin_order "
            "closes). Collect or drop those frames first, or pass "
            "force=True to acknowledge.",
            RuntimeWarning, stacklevel=2)
    n_pins = len(_PINNED)
    for df in _PINNED.values():
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session may be stopped
            pass
    _PINNED.clear()
    global _GC_AT
    _GC_AT = 0  # registry drained — drop the stale gc high-water mark
    from .operators import dedup, distwindow

    n_tbls = len(distwindow._LOCAL_TBLS)
    distwindow._LOCAL_TBLS.clear()
    n_dedup = len(dedup._GRAM_CACHE) + len(dedup._SIG_CACHE)
    for cache in (dedup._GRAM_CACHE, dedup._SIG_CACHE):
        for df in cache.values():
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001
                pass
        cache.clear()
    return {"pins": n_pins, "local_tables": n_tbls, "dedup_caches": n_dedup}


# Logical operators between a materialized leaf and a frame's output
# that keep each row's order id AND its physical partition (narrow),
# those that keep the id only (may shuffle), and the leaves an id can
# be read from.
_NARROW_NODES = {"Project", "Filter", "Generate", "SubqueryAlias",
                 "ResolvedHint", "LocalRelation"}
_ID_PASS_NODES = _NARROW_NODES | {"Window", "Join"}
_ID_STORE_NODES = {"InMemoryRelation", "LogicalRDD"}


def ids_frozen(sdf: SparkDataFrame, layout: bool = False) -> bool:
    """True when ``sdf``'s ``__order__`` is READ from a materialized
    relation (a pin, a user cache, a driver-built table) through
    deterministic id-preserving operators only — every job over
    ``sdf`` then sees the same ids without pinning ``sdf`` itself.
    This is the case for a Series order op over an anchor an earlier
    op augmented (Frame._augment): pinning that growing plan again per
    op would nest cached plans, and Spark prints a cached AQE plan
    with both its initial and final form — the plan strings every job
    records double per nesting level. ``layout=True`` also requires
    the physical partitioning to be stored: narrow operators only (no
    Window/Join, which may shuffle)."""
    passes = _NARROW_NODES if layout else _ID_PASS_NODES
    try:
        # a derived frame's own QueryExecution: resolving sdf's cache
        # substitution now would freeze it before a later persist of sdf
        plan = sdf.select("*")._jdf.queryExecution().withCachedData()
        if not plan.deterministic():
            return False
        out = plan.output()
        oid = next((out.apply(i).exprId() for i in range(out.size())
                    if out.apply(i).name() == ORDER_COL), None)
        if oid is None:
            return False
        found, stack = False, [plan]
        while stack:
            node = stack.pop()
            kind = node.getClass().getSimpleName()
            if kind in _ID_STORE_NODES:
                o = node.output()
                found = found or any(o.apply(i).exprId().equals(oid)
                                     for i in range(o.size()))
            elif kind in passes:
                ch = node.children()
                stack.extend(ch.apply(i) for i in range(ch.size()))
            else:
                return False
        return found
    except Exception:  # noqa: BLE001 — connect-mode or API drift
        return False


def pin_order(sdf: SparkDataFrame) -> SparkDataFrame:
    """Freeze the order-id assignment before any kernel collects
    order-derived literals.

    ``monotonically_increasing_id`` values are only deterministic
    WITHIN one job: AQE may coalesce the post-sort shuffle differently
    for different downstream plan shapes (measured: an aggregate job
    saw one partition where a scan-only collect saw two), silently
    shifting every id. Any kernel that collects id-derived facts
    (split bounds, per-block counts, boundary values) in a build job
    and applies them in the later main job therefore needs the ids
    MATERIALIZED once and reused. ``persist`` gives exactly that
    contract: Spark's cache is keyed by the canonicalized plan, so the
    caller's lazy main query hits the same materialized blocks, and
    evicted blocks recompute through the frozen physical plan (fixed
    partitioning + deterministic sort) instead of re-planning.

    Entries live while lazy plans may still reference them
    (unpersisting a pin a pending plan reads would reopen the race);
    Spark evicts blocks to disk under memory pressure, lineage stays
    frozen. Release paths: ``clear_cache()`` at a query boundary
    unpersists every entry, and (r11) the registry self-bounds at
    ``_PINNED_MAX`` entries via LRU unpersist-on-evict — eviction
    deferred while any blocked-output frame is alive (see
    ``_maybe_evict_pins``; SCALE.md "Session storage budget")."""
    if ORDER_COL not in sdf.columns:
        return sdf
    try:
        # an RDD-backed relation is already materialized with frozen
        # ids — driver-built tables (distwindow._memo_table) and true
        # localCheckpoint outputs (the dedup/streaming iteration
        # paths). Persisting again would double-store the data. NOTE:
        # consume_chained outputs do NOT land here — they are
        # persist-based (plan stays declarative), deduped by the
        # semanticHash key below instead.
        if (sdf._jdf.queryExecution().logical().getClass()
                .getSimpleName() == "LogicalRDD"):
            return sdf
    except Exception:  # noqa: BLE001 — connect-mode or API drift
        pass
    from pyspark import StorageLevel

    try:
        # the caller already persists this exact plan (Spark's cache
        # is plan-keyed): their cache freezes the ids just as well,
        # and registering an alias here would let clear_cache()
        # unpersist a USER-owned cache entry (r10: the 10M probe's
        # shared input vanished at the first barrier)
        if sdf.storageLevel != StorageLevel.NONE:
            return sdf
    except Exception:  # noqa: BLE001 — connect-mode or API drift
        pass
    try:
        key = sdf.semanticHash()
    except Exception:
        return sdf
    if key in _PINNED:
        _PINNED[key] = _PINNED.pop(key)  # refresh LRU position
        return sdf
    sdf.persist(StorageLevel.MEMORY_AND_DISK)
    _PINNED[key] = sdf
    _maybe_evict_pins()
    return sdf


def ensure_parallelism(sdf: SparkDataFrame) -> SparkDataFrame:
    """Repartition up to the cluster's parallelism when the input has
    fewer partitions (e.g. one small parquet file). Used by CPU-heavy
    per-row operators (minhash/simhash/embedding signatures) where a
    single-partition scan would serialize the work; a no-op on inputs
    that are already wide (the 100 TB case)."""
    target = sdf.sparkSession.sparkContext.defaultParallelism
    if sdf.rdd.getNumPartitions() < target:
        return sdf.repartition(target)
    return sdf


def true_div_col(a, b):
    """``a / b`` with pandas zero-division semantics. Spark's Divide
    returns NULL for a zero divisor (even on doubles, non-ANSI);
    pandas/numpy yield ±inf by the numerator's sign and NaN for 0/0.
    A NULL numerator over zero stays NULL (renders NaN, what pandas
    shows for NaN/0). Negative-zero divisors keep numpy's sign flip
    (1/-0.0 = -inf): Spark comparisons see -0.0 == 0.0, but
    ``pow(b, -1)`` routes straight to Java Math.pow, which preserves
    the zero's sign bit — signum of it is the divisor-zero's sign,
    evaluated only inside the zero branch."""
    from pyspark.sql import functions as F

    inf = F.lit(float("inf"))
    zsign = F.signum(F.pow(b.cast("double"), F.lit(-1.0)))
    by_zero = (F.when(a.isNull(), F.lit(None))
               .when(a > 0, zsign * inf).when(a < 0, -zsign * inf)
               .otherwise(F.lit(float("nan"))))
    return F.when(b == 0, by_zero).otherwise(a / b)


def floor_div_col(a, b):
    """``a // b`` for FLOAT operands with pandas zero-division
    semantics: same ±inf/NaN-by-numerator-sign as ``true_div_col``
    (``floor(a/b)`` would floor(NULL) the zero rows away — and Spark's
    floor(±Infinity) silently clamps to the long range). Integer
    floordiv-by-zero (pandas: 0) stays on the caller's int path."""
    from pyspark.sql import functions as F

    inf = F.lit(float("inf"))
    nan = F.lit(float("nan"))
    # divisor-zero sign via Math.pow (see true_div_col): -0.0 flips
    zsign = F.signum(F.pow(b.cast("double"), F.lit(-1.0)))
    by_zero = (F.when(a.isNull(), F.lit(None))
               .when(a > 0, zsign * inf).when(a < 0, -zsign * inf)
               .otherwise(nan))
    # non-zero divisors follow numpy floor_divide: NaN/±inf numerator
    # or NaN divisor → NaN (Spark floor(NaN)→0 and floor(±inf) clamps
    # to the long range, both silently wrong); finite // ±inf → 0.0
    # same-sign, -1.0 opposite-sign (numpy's sign correction — plain
    # floor(a/±inf)=floor(∓0.0) would give 0 for both).
    ad, bd = a.cast("double"), b.cast("double")
    a_nonfinite = F.isnan(ad) | (ad == inf) | (ad == -inf)
    b_inf = (bd == inf) | (bd == -inf)
    return (F.when(b == 0, by_zero)
            # NULL operands (pandas NaN arrives as Spark NULL) stay
            # NULL — the engine renders float NULL as NaN
            .when(a.isNull() | b.isNull(), F.lit(None))
            .when(a_nonfinite | F.isnan(bd), nan)
            .when(b_inf, F.when((ad == 0) | ((ad > 0) == (bd > 0)),
                                F.lit(0.0)).otherwise(F.lit(-1.0)))
            .otherwise(F.floor(a / b).cast("double")))


def pct_change_col(cur, prev):
    """x/prev - 1 with pandas zero-division semantics: Spark division
    by zero returns NULL (even for doubles, non-ANSI), but pandas
    yields +/-inf (and NaN for 0/0)."""
    from pyspark.sql import functions as F

    c, p = cur.cast("double"), prev.cast("double")
    inf = F.lit(float("inf"))
    # -0.0 previous flips the sign (see true_div_col)
    zsign = F.signum(F.pow(p, F.lit(-1.0)))
    by_zero = (F.when(c > 0, zsign * inf).when(c < 0, -zsign * inf)
               .otherwise(F.lit(float("nan"))))
    return F.when(p.isNull() | c.isNull(), F.lit(None))             .when(p == 0, by_zero).otherwise(c / p - 1)
