"""SparkSession bootstrap tuned for this engine.

Local-mode testing (local[N]) with settings that also make sense on a
real cluster: AQE on (runtime re-planning, skew-join splitting,
partition coalescing), Arrow on (fast pandas interchange + vectorized
pandas UDFs), UTC session timezone (the reference stores tz-naive
datetime64[ns]; we canonicalize to UTC, see SURVEY.md §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "go_pandas_spark", master: str | None = None) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    active = SparkSession.getActiveSession()
    if active is not None:
        return _maybe_warm(active)
    builder = (
        builder.master(master)
        # Shuffle partitions sized for the local test rig; AQE coalesces
        # at runtime so oversizing is cheap, undersizing is not.
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Per-call origin capture (PySpark 4 DataFrame debugging) costs
        # ~4 py4j round-trips + a Python stack walk on EVERY DataFrame
        # API call — measured ~25-30% of the driver-side plan
        # construction time of join-heavy queries (r13, guide §1/§7.3:
        # driver work is single-threaded). Off in production; error
        # messages lose only the Python call-site annotation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # ANSI mode off: the reference (pandas) has permissive casts and
        # NULL-on-error semantics, not SQL-exception semantics.
        .config("spark.sql.ansi.enabled", "false")
        # The reference stores datetime64[ns]; parquet NANOS columns are
        # read as long and truncated to µs timestamps in read_parquet
        # (deliberate semantic delta, SURVEY.md §1.3).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet isAdjustedToUTC=false timestamps as session-UTC
        # TIMESTAMP, not TIMESTAMP_NTZ (LTZ-only functions reject NTZ).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Write µs timestamps (not INT96): round-trippable everywhere.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return _maybe_warm(spark)


def _maybe_warm(spark: SparkSession) -> SparkSession:
    """Opt-in session priming (r11): ``SPARK_GRAFT_WARMUP=1`` runs
    ``warmup()`` once per session — the suite/service deployment
    shape. Off by default: a job-per-query deployment must not pay
    the ~20 s priming for one query (COVERAGE.md cold-start
    decomposition)."""
    if os.environ.get("SPARK_GRAFT_WARMUP") == "1" and \
            not getattr(spark, "_gp_warmed", False):
        spark._gp_warmed = True  # set FIRST — warmup() calls get_spark users
        warmup(spark)
    return spark


def warmup(spark: SparkSession, rows: int = 2_000) -> float:
    """Prime the JVM for suite-shaped sessions: run each hot kernel
    family once over a tiny in-memory frame BEFORE the real queries.
    The cold-start decomposition (COVERAGE.md r10, scripts/
    coldstart_probe.py) showed the removable cold share is JVM JIT /
    class loading / Python-Arrow worker spin-up — NOT AQE re-planning
    or whole-stage codegen compilation (both flag-flips were noise) —
    and this pass removes ~45% of a heavy query's cold time. It costs
    ~20 s itself, so DON'T warm up a single-query job; a session
    running many queries repays it within two heavy ones.
    Only the registry entries THIS pass created are dropped before
    returning (their leaves are freed once unreachable) — a
    mid-session caller's entries are untouched (clear_cache() drops
    the whole registry).
    Returns seconds spent."""
    import time

    from pyspark.sql import functions as F

    t0 = time.time()
    from . import Frame
    from . import _internal as I

    pre_pins = set(I._PINNED)
    sdf = spark.range(rows).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.rand(7) * 100.0).alias("v"),
        F.concat(F.lit("tok "), (F.col("id") % 97).cast("string")).alias("txt"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"))
    f = Frame(sdf)
    # scan + filter + groupBy agg + broadcast join (relational core)
    agg = f[f["v"] > 1.0].groupby(["k"], as_index=False).agg(
        s=("v", "sum"), m=("v", "mean"), n=("v", "count"))
    f.merge(agg, on="k", how="left")._sdf.count()
    # blocked order-op family, chained (consume_chained materialize path)
    f[["v"]].cumsum().shift(2)._sdf.count()
    f[["v"]].rank(pct=True)._sdf.count()
    # moving windows: rolling / expanding (fused) / ewm
    f.rolling(10).mean(["v"])._sdf.count()
    f.expanding().moments({"sk": ("v", "skew"), "vv": ("v", "var")})._sdf.count()
    f.ewm(alpha=0.5).mean(["v"])._sdf.count()
    # Arrow pandas-UDF lane + string kernels
    f.assign(t2=f["txt"].str.contains("tok"))._sdf.count()
    f.groupby(["k"]).transform(lambda s: s - s.mean(), ["v"])._sdf.count()
    for key in set(I._PINNED) - pre_pins:
        del I._PINNED[key]
    return round(time.time() - t0, 3)
