"""P-scaling budget audit (r10, VERDICT r9 #5): local[32] cannot
exercise P=4096, so the closed-form driver-collect / broadcast byte
budgets — as functions of the block count P, grid size n_grid and
column count — are the 1000-executor evidence. Each test recomputes a
budget formula from the CODE's constants and asserts the documented
bound (SCALE.md "P-scaling budget table"); if a constant drifts, the
budget table and this file must move together."""
from __future__ import annotations

import inspect

from go_pandas_spark import _internal as I
from go_pandas_spark.operators import dedup, distwindow as dw

MiB = 1 << 20


def _fake_sdf(parallelism: int):
    """_n_blocks is a pure function of defaultParallelism — feed it
    a stub so the cap arithmetic is testable at cluster scale."""
    class _Ctx:
        defaultParallelism = parallelism

    class _Sess:
        sparkContext = _Ctx()

    class _Sdf:
        sparkSession = _Sess()

    return _Sdf()


def test_block_count_caps():
    """Every kernel follows the cluster's parallelism up to 4096 (its
    tables attach with O(1) plan size above the literal rule). A
    1000-executor × 4-core cluster (P=4000) fans out fully and is
    capped only by the documented 4096 ceiling."""
    assert dw._n_blocks(_fake_sdf(4000)) == 4000
    assert dw._n_blocks(_fake_sdf(100_000)) == 4096


def test_carry_table_budgets():
    """Every blocked kernel's cross-block carry is a ≤P-row driver
    table re-shipped as ONE broadcast relation. At P=4096 and ~100 B
    per row (block id + a handful of doubles) that is ≤ 0.5 MiB per
    kernel pass; the memo LRU bounds how many distinct tables a
    session retains."""
    P = 4096
    per_table = P * 100  # bytes, conservative row estimate
    assert per_table <= MiB // 2
    assert dw._LOCAL_TBLS_MAX == 256
    assert dw._LOCAL_TBLS_MAX * per_table <= 128 * MiB  # driver heap cap


def test_bincount_budget_ungrouped():
    """Approx expanding quantile: pass-1 bincounts are PACKED int64 —
    8 · P · n_grid bytes per column (r9 ADVICE fix). At the caps
    (P=4096, n_grid=1024) that is exactly 32 MiB per column, the
    documented driver/broadcast bound."""
    sig = inspect.signature(dw.expanding_quantile_approx_blocked)
    n_grid = sig.parameters["n_grid"].default
    assert n_grid == 1024
    assert 8 * 4096 * n_grid == 32 * MiB


def test_bincount_budget_grouped_giant_cap():
    """Grouped approx expanding quantile: footprint K·P·n_grid·8 with
    the giant-group count K hard-capped at 64 (window.py raises past
    it), so the worst-case driver/broadcast bincount state is bounded
    at 2 GiB — and reached only by 64 simultaneous >threshold groups
    on full-width grids; typical giants bound per-group P to their own
    block span."""
    from go_pandas_spark import window as w

    src = inspect.getsource(w.Expanding._grouped_quantile_approx)
    assert "len(bigs) > 64" in src  # the cap the budget relies on
    sig = inspect.signature(w.Expanding.quantile)
    assert sig.parameters["approx_threshold"].default == 2_000_000
    assert 64 * 4096 * 1024 * 8 == 2048 * MiB


def test_refs_sample_budget():
    """Moment centering refs: ONE CollectLimit(1024) sample per kernel
    — 8 KiB per column of driver traffic, never a full scan unless the
    sample held no valid value."""
    src = inspect.getsource(dw.first_valid_refs)
    assert "limit(1024)" in src
    assert 1024 * 8 <= 8 * 1024  # bytes per double column


def test_sequential_guards():
    """Genuinely sequential surfaces refuse past 5M rows with an
    actionable error instead of silently serializing (kendall, scipy
    interpolation, exact expanding order statistics)."""
    from go_pandas_spark import window as w
    from go_pandas_spark.operators import aggregates, missing

    assert w.Expanding._SEQ_MAX_ROWS == 5_000_000
    assert aggregates._KENDALL_GLOBAL_MAX_ROWS == 5_000_000
    assert missing._SCIPY_GLOBAL_MAX_ROWS == 5_000_000


def test_dedup_budgets():
    """Connected components: the union-find driver fast path is bounded
    by SMALL_EDGE_LIMIT (400k edges ≈ 10 MB driver); above it the
    distributed min-label loop runs. Gram/signature caches are
    FIFO-bounded at 4 persisted entries each."""
    assert dedup.SMALL_EDGE_LIMIT == 400_000
    assert dedup.SMALL_EDGE_LIMIT * 24 <= 10 * MiB
    src = inspect.getsource(dedup)
    assert src.count(">= 4:") >= 2  # both FIFO caches bound at 4


def test_pin_registry_is_releasable():
    """The leaf registry holds DataFrame handles, and clear_cache()
    drops them together with the driver-table memo and unpersists the
    dedup caches (r10; the storage-budget table's 'bytes pinned' row
    is bounded per query, and total by reachability)."""
    assert isinstance(I._PINNED, dict)
    assert callable(I.clear_cache)
    src = inspect.getsource(I.clear_cache)
    assert "unpersist" in src and "_LOCAL_TBLS" in src


# (module path under go_pandas_spark/, qualified function) pairs allowed
# to store or free a relation themselves; whole modules listed in
# _STORAGE_MODULES truncate loop or UDF lineage with their own caches.
_STORAGE_FUNCS = {("_internal.py", "materialize"),
                  ("_internal.py", "_checkpoint"),  # materialize's miss
                  ("_internal.py", "clear_cache"),
                  ("frame.py", "Frame.persist"), ("frame.py", "Frame.cache"),
                  ("frame.py", "Frame.unpersist")}
_STORAGE_MODULES = {"operators/dedup.py", "operators/similarity.py",
                    "streaming/ops.py"}


def test_one_materialization_primitive():
    """Every engine-held materialization goes through
    ``_internal.materialize``: no ``persist``/``localCheckpoint``/
    ``unpersist`` call anywhere else in the package, bar the user
    Frame API, the registry barrier and the iterative modules."""
    import ast
    from pathlib import Path

    import go_pandas_spark

    found = []

    def visit(node, rel, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(child, (ast.FunctionDef, ast.ClassDef)):
                inner = f"{scope}.{child.name}" if scope else child.name
            if (isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr in ("persist", "unpersist",
                                            "localCheckpoint")
                    and (rel, scope) not in _STORAGE_FUNCS):
                found.append(f"{rel}:{child.lineno} {scope}")
            visit(child, rel, inner)

    root = Path(go_pandas_spark.__file__).parent
    for path in root.rglob("*.py"):
        rel = path.relative_to(root).as_posix()
        if rel not in _STORAGE_MODULES:
            visit(ast.parse(path.read_text()), rel, "")
    assert not found, found


# (call, top-level function) pairs in distwindow.py allowed outside
# _attach_table: the lazy carry subtree of running_pick_blocked is a
# broadcast of an in-plan aggregate, not a driver table; the bounds
# search reads the attached array; percentile_approx requires its
# percentile grids as foldable literals.
_ATTACH_EXEMPT = {("broadcast", "running_pick_blocked"),
                  ("element_at", "_binsearch_pos"),
                  ("_lit_array", "_split_bounds"),
                  ("_lit_array", "expanding_quantile_approx_blocked"),
                  ("_lit_array", "expanding_quantile_approx_grouped")}


def test_one_table_attach_primitive():
    """Every driver-built table reaches a blocked kernel's plan through
    ``distwindow._attach_table``: no ``F.broadcast``/``crossJoin``/
    ``_memo_table`` and no ``_lit_*_array`` or ``element_at`` lookup
    appears anywhere else in distwindow.py, bar ``_ATTACH_EXEMPT``.
    The one size rule's budget: the largest literal table any kernel
    embeds is ``_ATTACH_LIT_SLOTS`` entries (SCALE.md "P-scaling budget
    table")."""
    import ast
    from pathlib import Path

    found = []
    tree = ast.parse(Path(dw.__file__).read_text())
    for top in tree.body:
        if not isinstance(top, ast.FunctionDef) or top.name == "_attach_table":
            continue
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            watched = (name in ("broadcast", "crossJoin", "_memo_table",
                                "element_at", "try_element_at")
                       or (name.startswith("_lit_") and name.endswith("_array")))
            if watched and (name, top.name) not in _ATTACH_EXEMPT:
                found.append(f"{top.name}:{node.lineno} {name}")
    assert not found, found
    assert dw._ATTACH_LIT_SLOTS == 512
