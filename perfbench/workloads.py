"""The benchmark's workloads: which suite queries a pass runs, and how.

Every workload is one closed-loop client: each query is sent only after
the previous one has completed, and passes run back to back.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    # data scale: sf0.01 is 60k lineitem rows and 10k events
    sf: float = 0.01
    # start every pass by rewriting ``events`` through to_parquet
    refresh: bool = False
    # passes after the cold one, before the steady ones, while the JIT
    # compiles the hot paths
    warm_passes: int = 2
    # steady passes per 10 s of ``--seconds``: a count, not a duration,
    # so every run takes its median over as many passes
    passes_per_10s: int = 4
    # how a steady pass time follows the host probe (run.py host_scale)
    # when the shared host slows: in proportion for a pass whose tasks
    # fill every slot, as the no-op probe job's do, less for one of
    # mostly serial driver work
    probe_exponent: float = 1.0


WORKLOADS: dict[str, Workload] = {
    # Metadata-only queries on unchanged data: the suite plan memo hits,
    # so build is ~0 and time sits in planning, execution and transfer.
    # A build-layer change should show nothing here.
    "relational_repeat": Workload(
        queries=(
            "q1_pricing_summary", "q5_local_supplier_volume", "string_methods_battery",
            "rank_methods",
        ),
        warm_passes=12,
        passes_per_10s=12,
        probe_exponent=0.75,
    ),
    # Writes beside reads, caches kept: every write invalidates the plan
    # memos (q1 reads lineitem, but the memo stamp covers the whole data
    # directory), the blocked kernel re-runs its build jobs, and the
    # per-pass oracle catches any result served from stale state.
    "refresh_mix": Workload(
        queries=(
            "q1_pricing_summary", "resample_hourly", "groupby_transform_zscore",
            "cumulative_ungrouped_global",
        ),
        refresh=True,
        warm_passes=3,
        passes_per_10s=3,
    ),
}
