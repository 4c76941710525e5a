#!/usr/bin/env python3
"""Per-query profiling for the optimization rounds: warm time, number
of Spark jobs (all of them, and ``build_jobs``: those launched while
the query's DataFrame is built, before the action — perfbench's
``build_jobs``), number of stages/tasks, shuffle exchange count in the
final plan, and the suite plan memo's decision for the timed build
(``suite.memo_decisions()``: hit, miss, or skip and why).

Usage: python scripts/profile_queries.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from go_pandas_spark import get_spark  # noqa: E402
from go_pandas_spark.suite import QUERIES, memo_decisions, register_all  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    filters = sys.argv[2:]
    register_all()
    spark = get_spark("profile")
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # JVM warmup

    names = [n for n in QUERIES
             if not filters or any(f in n for f in filters)]
    out = {}
    for name in names:
        fn = QUERIES[name]
        try:
            fn(spark, sf_dir).count()  # warm (codegen/plan)
        except Exception as e:  # noqa: BLE001
            out[name] = {"err": repr(e)[:200]}
            sys.stderr.write(f"{name}: ERR {e}\n")
            continue
        tracker = sc.statusTracker()
        sc.setJobGroup(f"prof_{name}", name)
        t0 = time.time()
        df = fn(spark, sf_dir)
        t_plan = time.time() - t0
        bus.waitUntilEmpty()  # the status store sees every build job
        build_jobs = len(tracker.getJobIdsForGroup(f"prof_{name}"))
        memo = memo_decisions().get(name)
        t1 = time.time()
        df.count()
        t_action = time.time() - t1
        wall = t_plan + t_action
        bus.waitUntilEmpty()
        jobs = tracker.getJobIdsForGroup(f"prof_{name}")
        n_stages = 0
        n_tasks = 0
        for j in jobs:
            ji = tracker.getJobInfo(j)
            if ji is None:
                continue
            for s in ji.stageIds:
                si = tracker.getStageInfo(s)
                if si is not None:
                    n_stages += 1
                    n_tasks += si.numTasks
        sc.setJobGroup(None, None)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_exch = plan.count("Exchange")
        n_reuse = plan.count("ReusedExchange")
        n_py = (plan.count("BatchEvalPython") + plan.count("ArrowEvalPython")
                + plan.count("MapInPandas") + plan.count("FlatMapGroupsInPandas")
                + plan.count("MapInArrow"))
        out[name] = {"warm_sec": round(wall, 3),
                     "plan_sec": round(t_plan, 3),
                     "action_sec": round(t_action, 3),
                     "jobs": len(jobs), "build_jobs": build_jobs,
                     "stages": n_stages,
                     "tasks": n_tasks,
                     "exchange": n_exch - n_reuse, "reused_exchange": n_reuse,
                     "python_nodes": n_py, "memo": memo}
        sys.stderr.write(f"{name}: {wall:.2f}s plan={t_plan:.2f}s "
                         f"action={t_action:.2f}s "
                         f"jobs={len(jobs)} build_jobs={build_jobs} "
                         f"stages={n_stages} tasks={n_tasks} "
                         f"exch={n_exch - n_reuse}+{n_reuse}r py={n_py} "
                         f"memo={memo}\n")
    print(json.dumps(out, indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
