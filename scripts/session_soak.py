#!/usr/bin/env python3
"""Long-lived-session soak (r10): drive the full oracle suite through
ONE SparkSession for several passes with `clear_cache()` at the end of
each pass, and report the storage registries + JVM persistent-RDD
state after every pass. The point: a service session's executor
storage is BOUNDED — it grows within a pass (materialized leaves are
per-query-chain state), drains once the pass's frames and registry
entries are unreachable (Spark's ContextCleaner frees a leaf after a
JVM collection, so the cleared snapshot polls for it), and pass N+1
looks exactly like pass 1.

Usage: python scripts/session_soak.py [sf_dir] [passes]
Prints one JSON line per checkpoint.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import go_pandas_spark as gp  # noqa: E402
from go_pandas_spark import _internal as I  # noqa: E402
from go_pandas_spark.operators import dedup, distwindow as dw  # noqa: E402


def jvm_storage(spark) -> dict:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {
        "persisted_rdds": len(infos),
        "mem_mb": round(sum(i.memSize() for i in infos) / 2**20, 1),
        "disk_mb": round(sum(i.diskSize() for i in infos) / 2**20, 1),
    }


def drain(spark, timeout_s: float = 10.0) -> None:
    """Collect both heaps until the unreachable leaves' blocks are
    freed (ContextCleaner runs asynchronously) or ``timeout_s``."""
    import gc

    deadline = time.time() + timeout_s
    while True:
        gc.collect()
        spark._jvm.System.gc()
        if not jvm_storage(spark)["persisted_rdds"] or time.time() > deadline:
            return
        time.sleep(0.5)


def snapshot(spark, tag: str, t0: float) -> None:
    s = {"tag": tag, "t": round(time.time() - t0, 1),
         "pins": len(I._PINNED), "local_tbls": len(dw._LOCAL_TBLS),
         "dedup_caches": len(dedup._GRAM_CACHE) + len(dedup._SIG_CACHE)}
    s.update(jvm_storage(spark))
    print(json.dumps(s), flush=True)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    no_barrier = "--no-barrier" in sys.argv
    sf = args[0] if args else "/root/testdata/sf0.01"
    passes = int(args[1]) if len(args) > 1 else 3
    from go_pandas_spark.suite import QUERIES, register_all

    register_all()
    spark = gp.get_spark("session_soak")
    t0 = time.time()
    snapshot(spark, "start", t0)
    for p in range(passes):
        failed = []
        for name, fn in QUERIES.items():
            try:
                fn(spark, sf).count()
            except Exception:  # noqa: BLE001
                failed.append(name)
        snapshot(spark, f"pass{p + 1}_end", t0)
        if failed:
            print(json.dumps({"tag": f"pass{p + 1}_failures",
                              "failed": failed}), flush=True)
        if no_barrier:
            # service that never calls the barrier: the registry stays
            # bounded by the _PINNED_MAX LRU alone (r11)
            print(json.dumps({"tag": f"pass{p + 1}_no_barrier",
                              "pinned_cap": I._PINNED_MAX,
                              "pins": len(I._PINNED)}), flush=True)
        else:
            gp.clear_cache()
            drain(spark)
            snapshot(spark, f"pass{p + 1}_cleared", t0)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
