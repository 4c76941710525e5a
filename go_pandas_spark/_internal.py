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


# (semantic plan, what its sources read) -> lineage-truncated leaf (see
# materialize), insertion/use-ordered so the oldest entry is dropped
# first. Dropping an entry only drops the engine's reference: a leaf's
# stored blocks live while any DataFrame reaches it (Spark's
# ContextCleaner frees them once the leaf is unreachable), so no entry
# and no clear_cache() can pull rows out from under a pending plan.
_PINNED: dict = {}
# entry cap for _PINNED: beyond it the oldest entries are dropped —
# what an evicted key costs is one re-materialization if the same plan
# comes back. SCALE.md "Session storage budget".
_PINNED_MAX = 64

# Leaves keyed on content alone: semanticHash already covers their
# data (a LocalRelation's rows, a LogicalRDD's RDD identity).
_CONTENT_LEAVES = {"LogicalRDD", "LocalRelation", "OneRowRelation", "Range"}


def _leaf_key(sdf: SparkDataFrame):
    """Registry key: the semantic plan, plus what each of its other
    leaves will read. semanticHash sees a file scan only by its root
    paths, so a file rewritten in place (``to_parquet`` overwrite) would
    hit the old file's rows: a file scan adds its cached listing (every
    file's path, length and modification time), any other source its
    attribute ids. The listing, not the scan's ids, because the
    analyzer re-instances a relation read twice in one plan (a
    self-join) under fresh ids on every build."""
    import hashlib

    plan = sdf._jdf.queryExecution().analyzed()
    leaves = plan.collectLeaves()
    parts = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() in _CONTENT_LEAVES:
            continue
        try:
            listing = leaf.relation().location().allFiles().toString()
            parts.append(hashlib.sha1(listing.encode()).hexdigest())
        except Exception:  # noqa: BLE001 — not a file scan
            out = leaf.output()
            parts.append(tuple(out.apply(j).exprId().id()
                               for j in range(out.size())))
    return plan.semanticHash(), tuple(parts)


def _module(jvm, name: str):
    """A Scala companion object by its class name."""
    return getattr(getattr(jvm.org.apache.spark.sql, name + "$"), "MODULE$")


def _checkpoint(sdf: SparkDataFrame):
    """The LogicalRDD node of ``sdf.localCheckpoint(eager=False)``,
    stored serialized, planned in a session clone with AQE's
    final-stage shuffle optimizations off — the way Spark plans a
    cached relation — so the leaf keeps the plan's own partition
    layout instead of one coalesced to a few partitions (which would
    put a small frame's every id in one source partition and run its
    kernels as one task)."""
    jvm = sdf.sparkSession._jvm
    off = getattr(getattr(jvm.scala.collection.immutable, "Nil$"),
                  "MODULE$").prepended(
        _module(jvm, "internal.SQLConf")
        .ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS())
    session = _module(jvm, "classic.SparkSession") \
        .getOrCloneSessionWithConfigsOff(sdf.sparkSession._jsparkSession, off)
    plan = sdf._jdf.queryExecution().analyzed()
    leaf = _module(jvm, "classic.Dataset").ofRows(session, plan) \
        .localCheckpoint(False, jvm.org.apache.spark.storage.StorageLevel
                         .MEMORY_AND_DISK_SER())
    return leaf.queryExecution().analyzed()


def _bind(node, sdf: SparkDataFrame) -> SparkDataFrame:
    """A DataFrame over LogicalRDD ``node``'s stored RDD, in ``sdf``'s
    session and under ``sdf``'s own output attributes. A registry hit
    matches on the semantic plan, which ignores alias names and
    expression ids, while the caller resolves columns by its own names
    and its Columns (a Series holds resolved attributes) name its own
    ids. Partitioning, ordering and constraints are the stored ones
    with every stored attribute replaced by the caller's, so the
    result canonicalizes like the stored leaf, and plans rebuilt over
    either hash equal."""
    jvm = sdf.sparkSession._jvm
    out = sdf._jdf.queryExecution().analyzed().output()
    _session, stats, cons = (node.otherCopyArgs().apply(i) for i in range(3))
    if not node.output().equals(out):
        rdd_mod = _module(jvm, "execution.LogicalRDD")
        # by name and type; a hit under other alias names drops the
        # (optional, optimizer-only) constraints instead
        assoc = rdd_mod.buildOutputAssocForRewrite(node.output(), out)
        cons = (jvm.scala.Some(rdd_mod.rewriteConstraints(cons.get(),
                                                          assoc.get()))
                if cons.isDefined() and assoc.isDefined()
                else jvm.scala.Option.empty())
        # rewriteAttrs keeps the stored NAMES (it swaps expression ids
        # only): the caller's own attributes become the output
        node = node.rewriteAttrs(_module(
            jvm, "catalyst.expressions.AttributeMap").apply(
                node.output().zip(out)))
    node = node.copy(out, node.rdd(), node.outputPartitioning(),
                     node.outputOrdering(), node.isStreaming(), node.stream(),
                     sdf.sparkSession._jsparkSession, stats, cons)
    return SparkDataFrame(
        _module(jvm, "classic.Dataset").ofRows(
            sdf.sparkSession._jsparkSession, node), sdf.sparkSession)


def materialize(sdf: SparkDataFrame) -> SparkDataFrame:
    """The engine's one materialization primitive: ``sdf`` as a
    lineage-truncated leaf (``localCheckpoint(eager=False)``).

    Why: ``monotonically_increasing_id`` values are only deterministic
    WITHIN one job — AQE may coalesce a post-sort shuffle differently
    for different downstream plan shapes (measured: an aggregate job
    saw one partition where a scan-only collect saw two), silently
    shifting every id. A kernel that collects id-derived facts (split
    bounds, per-block counts, carries) in build jobs and applies them
    in the caller's later main job needs the ids stored once and read
    by every job; a chain of kernels also needs each call to scan
    stored rows instead of re-running the upstream machinery per job.

    A leaf's plan is one LogicalRDD node, so materializing a plan that
    already reads leaves never nests: the plan string every job
    records stays O(1) in chain length. The upstream AQE stages run
    when this is called (a lazy checkpoint still plans its RDD); the
    rows are stored by the first job that reads the leaf.

    Memo: the registry (``_PINNED``) is keyed on the semantic plan
    plus the file listing each scan reads (``_leaf_key``), so a
    rebuilt query reuses the stored rows while a rewritten input file
    misses. A hit is rebound to the caller's attributes
    (``_bind``). Lifetime is reachability: evicting an entry or
    ``clear_cache()`` drops only the engine's reference."""
    from pyspark import StorageLevel

    try:
        # already a leaf (an earlier materialize, a driver-built
        # table) or a caller's own cache: the ids are stored, and a
        # copy would double-store them
        if sdf._jdf.queryExecution().logical().getClass().getSimpleName() \
                == "LogicalRDD" or sdf.storageLevel != StorageLevel.NONE:
            return sdf
        key = _leaf_key(sdf)
    except Exception:  # noqa: BLE001 — connect-mode or API drift
        return sdf
    leaf = _PINNED.pop(key, None)
    if leaf is not None:
        _PINNED[key] = leaf  # refresh LRU position
        return _bind(leaf._jdf.queryExecution().analyzed(), sdf)
    leaf = _bind(_checkpoint(sdf), sdf)
    _PINNED[key] = leaf
    while len(_PINNED) > _PINNED_MAX:
        _PINNED.pop(next(iter(_PINNED)))
    return leaf


def clear_cache() -> dict:
    """Release every session-lifetime storage entry the engine holds:
    the ``materialize`` registry, the distwindow driver-table memo and
    the dedup gram/signature caches. Returns counts of what was
    dropped. Safe at any point: a leaf a pending plan still reads
    stays stored until that plan's frames are gone (SCALE.md "Session
    storage budget")."""
    n_pins = len(_PINNED)
    _PINNED.clear()
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
    relation (a ``materialize`` leaf, a user cache, a driver-built
    table) through deterministic id-preserving operators only — every
    job over ``sdf`` then sees the same ids without materializing
    ``sdf`` itself. This is the case for a Series order op over an
    anchor an earlier op augmented (Frame._augment): materializing
    that growing plan again per op would store one more copy per op.
    ``layout=True`` also requires the physical partitioning to be
    stored: narrow operators only (no Window/Join, which may
    shuffle)."""
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
