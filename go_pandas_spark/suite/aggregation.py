"""GroupBy surface: the §2.4 kernel table end-to-end."""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from . import load, query


@query(
    "groupby_stats_battery",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nunique_part,
           ROUND(AVG(l_quantity), 6) AS mean_qty,
           ROUND(VAR_SAMP(l_quantity), 6) AS var_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std_qty,
           ROUND(STDDEV_SAMP(l_quantity) / SQRT(COUNT(l_quantity)), 6) AS sem_qty,
           ROUND(MEDIAN(l_quantity), 6) AS median_qty,
           ROUND(SKEWNESS(l_quantity), 6) AS skew_qty,
           ROUND(KURTOSIS(l_quantity), 6) AS kurt_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def groupby_stats_battery(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    g = li.groupby("l_returnflag", as_index=False).agg(
        n=("l_quantity", "size"),
        nunique_part=("l_partkey", "nunique"),
        mean_qty=("l_quantity", "mean"),
        var_qty=("l_quantity", "var"),
        std_qty=("l_quantity", "std"),
        sem_qty=("l_quantity", "sem"),
        median_qty=("l_quantity", "median"),
        skew_qty=("l_quantity", "skew"),
        kurt_qty=("l_quantity", "kurt"),
        min_qty=("l_quantity", "min"),
        max_qty=("l_quantity", "max"),
    )
    for c in ["mean_qty", "var_qty", "std_qty", "sem_qty", "median_qty", "skew_qty", "kurt_qty"]:
        g = g.assign(**{c: g[c].round(6)})
    return g.sort_values("l_returnflag").to_spark()


@query(
    "groupby_mad",
    oracle="""
    WITH m AS (SELECT l_returnflag, AVG(l_quantity) AS mu FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag, ROUND(AVG(ABS(l.l_quantity - m.mu)), 6) AS mad_qty
    FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def groupby_mad(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    g = li.groupby("l_returnflag", as_index=False).agg(mad_qty=("l_quantity", "mad"))
    g = g.assign(mad_qty=lambda x: x["mad_qty"].round(6))
    return g.sort_values("l_returnflag").to_spark()


@query(
    "groupby_idx_minmax",
    oracle="""
    SELECT o_orderstatus,
           ARG_MIN(o_orderkey, o_totalprice) AS cheapest_order,
           ARG_MAX(o_orderkey, o_totalprice) AS priciest_order
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def groupby_idx_minmax(spark, sf_dir):
    od = load(spark, sf_dir, "orders").set_index("o_orderkey")
    g = od.groupby("o_orderstatus", as_index=False).agg(
        cheapest_order=("o_totalprice", "idxmin"),
        priciest_order=("o_totalprice", "idxmax"),
    )
    return g.sort_values("o_orderstatus").to_spark()


@query(
    "groupby_quantiles",
    oracle="""
    SELECT c_mktsegment,
           ROUND(QUANTILE_CONT(c_acctbal, 0.25), 6) AS q25,
           ROUND(QUANTILE_CONT(c_acctbal, 0.50), 6) AS q50,
           ROUND(QUANTILE_CONT(c_acctbal, 0.75), 6) AS q75
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def groupby_quantiles(spark, sf_dir):
    cu = load(spark, sf_dir, "customer")
    g25 = cu.groupby("c_mktsegment", as_index=False)["c_acctbal"].quantile(0.25)
    sdf = cu.to_spark().groupBy("c_mktsegment").agg(
        F.round(F.percentile("c_acctbal", F.lit(0.25)), 6).alias("q25"),
        F.round(F.percentile("c_acctbal", F.lit(0.50)), 6).alias("q50"),
        F.round(F.percentile("c_acctbal", F.lit(0.75)), 6).alias("q75"),
    ).orderBy("c_mktsegment")
    return sdf


@query(
    "value_counts_normalized",
    oracle="""
    SELECT event_type AS value,
           CAST(COUNT(*) AS BIGINT) AS count,
           ROUND(COUNT(*) / (SELECT COUNT(*) FROM events), 6) AS frac
    FROM events GROUP BY event_type ORDER BY count DESC, value
    """,
)
def value_counts_normalized(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    vc = ev["event_type"].value_counts()
    total = len(ev)
    vc = vc.assign(frac=(vc["count"] / total).round(6))
    return vc.sort_values(["count", "value"], ascending=[False, True]).to_spark()


@query(
    "groupby_mode",
    oracle="""
    SELECT user_id, MIN(event_type) AS mode_type FROM (
      SELECT user_id, event_type,
             RANK() OVER (PARTITION BY user_id ORDER BY cnt DESC) AS r
      FROM (SELECT user_id, event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2))
    WHERE r = 1 GROUP BY user_id ORDER BY user_id
    """,
)
def groupby_mode(spark, sf_dir):
    """mode with deterministic tie-break (lexicographically smallest),
    composed from count + rank — ``algorithms.py:788`` semantics."""
    ev = load(spark, sf_dir, "events")
    cnt = ev.groupby(["user_id", "event_type"], as_index=False).agg(cnt=("event_id", "count"))
    sdf = cnt.to_spark()
    r = F.rank().over(W.partitionBy("user_id").orderBy(F.col("cnt").desc()))
    out = (sdf.withColumn("r", r).filter(F.col("r") == 1)
           .groupBy("user_id").agg(F.min("event_type").alias("mode_type"))
           .orderBy("user_id"))
    return out


@query(
    "groupby_transform_zscore",
    oracle="""
    SELECT event_id,
           ROUND((value - AVG(value) OVER (PARTITION BY user_id))
                 / STDDEV_SAMP(value) OVER (PARTITION BY user_id), 6) AS z
    FROM events
    """,
)
def groupby_transform_zscore(spark, sf_dir):
    """The pandas ``(x - g.transform('mean')) / g.transform('std')``
    idiom — SeriesGroupBy.transform anchors to the original frame, so
    this is pure window expressions, no join."""
    ev = load(spark, sf_dir, "events")
    g = ev.groupby("user_id")["value"]
    z = ((ev["value"] - g.transform("mean")) / g.transform("std")).round(6)
    out = ev.assign(z=z)
    return out[["event_id", "z"]].to_spark()


@query(
    "groupby_having_filter",
    oracle="""
    SELECT event_id, user_id FROM (
      SELECT event_id, user_id, AVG(value) OVER (PARTITION BY user_id) AS m FROM events)
    WHERE m > 0.55
    """,
)
def groupby_having_filter(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    f = ev.groupby("user_id").having("avg(value) > 0.55")
    return f[["event_id", "user_id"]].to_spark()


@query(
    "groupby_apply_demean",
    oracle="""
    SELECT event_id, user_id,
           ROUND(value - MEDIAN(value) OVER (PARTITION BY user_id), 6) AS demeaned
    FROM events
    """,
)
def groupby_apply_demean(spark, sf_dir):
    """groupby.apply via applyInPandas — real pandas per group
    (SURVEY §2.11 crown jewel). Centering on the MEDIAN: an order
    statistic is bit-identical across engines, unlike a float mean
    whose summation order varies."""
    import pandas as pd

    ev = load(spark, sf_dir, "events")

    def demean(pdf: "pd.DataFrame") -> "pd.DataFrame":
        out = pdf[["event_id", "user_id"]].copy()
        out["demeaned"] = (pdf["value"] - pdf["value"].median()).round(6)
        return out

    res = ev[["event_id", "user_id", "value"]].groupby("user_id").apply(
        demean, schema="event_id long, user_id long, demeaned double")
    return res.to_spark()


@query(
    "corr_cov_by_group",
    oracle="""
    SELECT l_returnflag,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS pearson,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS cov
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def corr_cov_by_group(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    sdf = li.to_spark().groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("pearson"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov"),
    ).orderBy("l_returnflag")
    return sdf


@query(
    "corr_spearman",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             (RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
              + (RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity)
                 + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1)) / 2.0 AS rq,
             (RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
              + (RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                 + COUNT(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1)) / 2.0 AS rp
      FROM lineitem)
    SELECT l_returnflag, ROUND(CORR(rq, rp), 6) AS spearman
    FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def corr_spearman(spark, sf_dir):
    """Spearman = Pearson over average-method ranks
    (``nancorr_spearman``, ``pandas/_libs/algos.pyx:298``)."""
    li = load(spark, sf_dir, "lineitem")
    rk = li.groupby("l_returnflag")[["l_quantity", "l_extendedprice"]].rank()
    sdf = rk.to_spark()
    out = sdf.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("spearman")
    ).orderBy("l_returnflag")
    return out


@query(
    "describe_frame",
    oracle="""
    SELECT 'count' AS summary, CAST(COUNT(l_quantity) AS DOUBLE) AS l_quantity, CAST(COUNT(l_discount) AS DOUBLE) AS l_discount FROM lineitem
    UNION ALL SELECT 'mean', ROUND(AVG(l_quantity), 6), ROUND(AVG(l_discount), 6) FROM lineitem
    UNION ALL SELECT 'std', ROUND(STDDEV_SAMP(l_quantity), 6), ROUND(STDDEV_SAMP(l_discount), 6) FROM lineitem
    UNION ALL SELECT 'min', MIN(l_quantity), MIN(l_discount) FROM lineitem
    UNION ALL SELECT '25%', ROUND(QUANTILE_CONT(l_quantity, 0.25), 6), ROUND(QUANTILE_CONT(l_discount, 0.25), 6) FROM lineitem
    UNION ALL SELECT '50%', ROUND(QUANTILE_CONT(l_quantity, 0.50), 6), ROUND(QUANTILE_CONT(l_discount, 0.50), 6) FROM lineitem
    UNION ALL SELECT '75%', ROUND(QUANTILE_CONT(l_quantity, 0.75), 6), ROUND(QUANTILE_CONT(l_discount, 0.75), 6) FROM lineitem
    UNION ALL SELECT 'max', MAX(l_quantity), MAX(l_discount) FROM lineitem
    """,
)
def describe_frame(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    d = li[["l_quantity", "l_discount"]].describe()
    d = d.assign(l_quantity=d["l_quantity"].round(6), l_discount=d["l_discount"].round(6))
    return d.to_spark()


@query(
    "global_reductions",
    oracle="""
    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty,
           ROUND(AVG(l_quantity), 6) AS mean_qty,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS std_qty,
           ROUND(SKEWNESS(l_quantity), 6) AS skew_qty,
           ROUND(KURTOSIS(l_quantity), 6) AS kurt_qty,
           ROUND(MEDIAN(l_quantity), 6) AS median_qty,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           MIN(l_shipdate) AS first_ship, MAX(l_shipdate) AS last_ship
    FROM lineitem
    """,
)
def global_reductions(spark, sf_dir):
    from ..operators.aggregates import pandas_kurt_col, pandas_skew_col

    li = load(spark, sf_dir, "lineitem")
    li = li.assign(qty_d=li["l_quantity"].astype("decimal(18,6)"))
    return li.to_spark().agg(
        F.sum("qty_d").cast("double").alias("total_qty"),
        F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
        F.round(pandas_skew_col(F.col("l_quantity")), 6).alias("skew_qty"),
        F.round(pandas_kurt_col(F.col("l_quantity")), 6).alias("kurt_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@query(
    "groupby_ohlc",
    oracle="""
    SELECT event_type,
           ROUND(ARG_MIN(value, ts), 6) AS open,
           ROUND(MAX(value), 6) AS high,
           ROUND(MIN(value), 6) AS low,
           ROUND(ARG_MAX(value, ts), 6) AS close
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def groupby_ohlc(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    sdf = ev.to_spark().groupBy("event_type").agg(
        F.round(F.min_by("value", "ts"), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", "ts"), 6).alias("close"),
    ).orderBy("event_type")
    return sdf


@query(
    "corr_kendall",
    oracle="""
    WITH t AS (SELECT l_quantity AS x, l_extendedprice AS y
               FROM lineitem WHERE l_linenumber = 7),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM t),
    cd AS (SELECT SUM(SIGN(a.x - b.x) * SIGN(a.y - b.y)) / 2.0 AS num
           FROM t a, t b),
    tx AS (SELECT SUM(c * (c - 1) / 2.0) AS n1
           FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM t GROUP BY x)),
    ty AS (SELECT SUM(c * (c - 1) / 2.0) AS n2
           FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM t GROUP BY y))
    SELECT ROUND(cd.num / SQRT((s.n * (s.n - 1) / 2 - tx.n1)
                               * (s.n * (s.n - 1) / 2 - ty.n2)), 6) AS tau
    FROM s, cd, tx, ty
    """,
)
def corr_kendall(spark, sf_dir):
    """Kendall tau-b (frame.py:6873; reference kernel nancorr_kendall,
    algos.pyx — O(n^2)). Engine: exact Knight O(n log n) in one
    executor task; the oracle is the literal pair-count definition."""
    li = load(spark, sf_dir, "lineitem")
    sub = li[li["l_linenumber"] == 7][["l_quantity", "l_extendedprice"]]
    m = sub.corr(method="kendall")
    tau = round(float(m.loc["l_quantity", "l_extendedprice"]), 6)
    return spark.createDataFrame([(tau,)], "tau double")


@query(
    "combine_func_elementwise",
    oracle="""
    SELECT COALESCE(a.c_custkey, b.ck) AS c_custkey,
           CASE WHEN COALESCE(a.bal, -1e18) >= COALESCE(b.bal2, -1e18)
                THEN COALESCE(a.bal, -1e18) ELSE COALESCE(b.bal2, -1e18) END AS bal
    FROM (SELECT c_custkey, ROUND(c_acctbal, 2) AS bal FROM customer WHERE c_acctbal > 5000) a
    FULL OUTER JOIN (SELECT c_custkey AS ck, ROUND(c_acctbal * 2, 2) AS bal2
                     FROM customer WHERE c_acctbal > 2000) b
      ON a.c_custkey = b.ck
    """,
)
def combine_func_elementwise(spark, sf_dir):
    """combine(func) (frame.py:4970): outer index alignment + an
    elementwise combiner that stays a JVM expression."""
    cu = load(spark, sf_dir, "customer")
    a = cu[cu["c_acctbal"] > 5000].assign(bal=cu[cu["c_acctbal"] > 5000]["c_acctbal"].round(2))[
        ["c_custkey", "bal"]].set_index("c_custkey")
    b = cu[cu["c_acctbal"] > 2000].assign(
        bal=(cu[cu["c_acctbal"] > 2000]["c_acctbal"] * 2).round(2))[
        ["c_custkey", "bal"]].set_index("c_custkey")
    out = a.combine(b, (lambda s1, s2: s1.where(s1 >= s2, s2)), fill_value=-1e18)
    return out.reset_index().to_spark()
