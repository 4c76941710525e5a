#!/usr/bin/env python3
"""Dump .explain("formatted") for named suite queries.

Usage: python scripts/dump_plans.py <out_dir> <suffix> name [name...]
  out_dir: directory for the dumps (created if missing)
  suffix:  a tag for this side of a comparison, e.g. "before" (run
           from a checkout of the parent commit) or "after"
  name:    suite query names (go_pandas_spark/suite QUERIES)

Writes <out_dir>/<query>_<suffix>.txt for each query. The input tables
come from $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.getcwd())


def main() -> int:
    if len(sys.argv) < 4:
        sys.stderr.write(__doc__)
        return 2
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    from go_pandas_spark import get_spark
    from go_pandas_spark.suite import QUERIES, register_all

    register_all()
    spark = get_spark("dump_plans")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            sys.stderr.write(f"{name}: NOT REGISTERED (skipped)\n")
            continue
        try:
            df = fn(spark, sf)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            plan = f"ERROR building {name}: {e!r}"
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        sys.stderr.write(f"{name}: dumped {suffix}\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
