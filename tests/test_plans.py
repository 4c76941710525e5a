"""Plan-shape assertions: the scale properties the engine promises —
predicate pushdown into the parquet scan, column pruning, broadcast
joins for small dims, partial aggregation, no Python in JVM-path
operators. These are the 100 TB guarantees; .explain is the witness."""

from __future__ import annotations

import io
import contextlib

import pytest

import go_pandas_spark as gp


def _plan(sdf, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sdf.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    f = li[li["l_quantity"] > 45][["l_orderkey", "l_quantity"]]
    plan = _plan(f.to_spark())
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in plan, plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    two = li[["l_orderkey", "l_quantity"]]
    plan = _plan(two.to_spark())
    # the 11-column table must be read as exactly these 2 columns
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan, plan


def test_query_string_predicate_pushes_down(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    f = li.query("l_quantity > 45 and l_returnflag == 'A'")[["l_orderkey"]]
    plan = _plan(f.to_spark())
    assert "PushedFilters" in plan
    assert "GreaterThan(l_quantity,45" in plan, plan
    assert "EqualTo(l_returnflag,A)" in plan, plan


def test_small_dim_join_goes_broadcast(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    od = gp.read_parquet(spark, f"{sf_dir}/orders.parquet")
    j = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    plan = _plan(j.to_spark())
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_groupby_has_partial_aggregation(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    g = li.groupby("l_returnflag", as_index=False).agg(s=("l_quantity", "sum"))
    plan = _plan(g.to_spark(), "simple")
    # partial (map-side) + final HashAggregate around the exchange
    assert plan.count("HashAggregate") >= 2, plan


def test_jvm_operators_have_no_python_eval(spark, sf_dir):
    """Frame ops built from expressions must not smuggle Python UDFs
    into the plan (SURVEY: 'UDFs are the slow path')."""
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    g = ev.groupby("user_id")["value"]
    out = ev.assign(
        r=g.rank("average"),
        m=g.rolling(3).mean(),
        z=((ev["value"] - g.transform("mean")) / g.transform("std")),
        tok=ev["event_type"].str.upper(),
        dow=ev["ts"].dt.dayofweek,
    )
    plan = _plan(out.to_spark(), "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, f"{marker} leaked into plan:\n{plan}"


def test_whole_stage_codegen_covers_filter_project(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    f = li[li["l_quantity"] > 10].assign(net=li["l_extendedprice"] * (1 - li["l_discount"]))
    plan = _plan(f.to_spark(), "simple")
    assert "*(" in plan, plan  # '*' prefix = whole-stage-codegen span


def test_minhash_signature_is_partial_aggregated(spark, sf_dir):
    from go_pandas_spark.operators.dedup import minhash_signature

    docs = gp.read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    sig = minhash_signature(docs, "doc_id", "text", 16)
    plan = _plan(sig, "simple")
    assert plan.count("HashAggregate") >= 2, plan
    for marker in ("BatchEvalPython", "PythonUDF"):
        assert marker not in plan


def test_bucketed_join_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Bucketed tables co-locate join keys: the repeat-join plan must
    contain NO Exchange (the 100 TB repeated-join strategy)."""
    from pyspark.sql import functions as F

    from go_pandas_spark.sources.io import write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")[["l_orderkey", "l_quantity"]]
        od = gp.read_parquet(spark, f"{sf_dir}/orders.parquet")[["o_orderkey", "o_totalprice"]]
        write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
        write_bucketed(od.rename({"o_orderkey": "l_orderkey"}), "b_orders", ["l_orderkey"], 8,
                       sort_cols=["l_orderkey"])
        j = spark.table("b_lineitem").join(spark.table("b_orders"), "l_orderkey")
        plan = _plan(j, "simple")
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    from pyspark.sql import functions as F

    from go_pandas_spark.operators.similarity import cosine_topk

    emb = gp.read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    q = emb.filter(F.col("vec_id") % 100 == 0)
    plan = _plan(cosine_topk(emb, q, k=3), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_merge_asof_single_shuffle(spark, sf_dir):
    """The as-of join must shuffle exactly once (on the by keys) —
    the union-tag + window design promise."""
    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet")
    left = ev[ev["event_type"] == "click"][["ts", "user_id", "event_id"]]
    right = ev[ev["event_type"] == "purchase"][["ts", "user_id", "value"]].rename({"value": "pv"})
    m = gp.merge_asof(left, right, on="ts", by="user_id")
    plan = _plan(m.to_spark(), "simple")
    # one Exchange for the union's window partitioning; none after
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_approx_aggregates(spark, sf_dir):
    li = gp.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    approx = li.groupby("l_returnflag", as_index=False).nunique_approx().to_pandas()
    exact = li.groupby("l_returnflag", as_index=False).agg(
        n=("l_partkey", "nunique")).to_pandas()
    a = approx.set_index("l_returnflag")["l_partkey"]
    e = exact.set_index("l_returnflag")["n"]
    assert ((a - e).abs() / e < 0.15).all()
    q = li.groupby("l_returnflag", as_index=False).quantile_approx(0.5).to_pandas()
    m = li.groupby("l_returnflag", as_index=False).agg(md=("l_quantity", "median")).to_pandas()
    assert (q.set_index("l_returnflag")["l_quantity"]
            - m.set_index("l_returnflag")["md"]).abs().max() <= 2


def test_pinned_order_ids_stable_across_plan_shapes(spark, sf_dir):
    """materialize contract: over the leaf, an aggregate-shaped job and
    a scan-only collect must observe the SAME id layout (without the
    pin, AQE can coalesce the post-sort shuffle differently per plan
    shape and silently shift every id)."""
    import go_pandas_spark as gp
    from go_pandas_spark import _internal as I
    from pyspark.sql import functions as F

    ev = gp.read_parquet(spark, f"{sf_dir}/events.parquet").sort_values(
        ["ts", "event_id"])
    sdf = I.materialize(ev._sdf)
    sid = F.shiftright(F.col(I.ORDER_COL), 33)
    MASK = (1 << 33) - 1
    agg = sdf.groupBy(sid.alias("b")).agg(F.count(F.lit(1)).alias("c")).collect()
    layout_a = {r["b"]: r["c"] for r in agg}
    rows = (sdf.select(F.col(I.ORDER_COL).alias("o"))
            .filter(F.col(I.ORDER_COL).bitwiseAND(F.lit(MASK)) < 3).collect())
    sids_b = {r["o"] >> 33 for r in rows}
    assert sids_b == set(layout_a), (sids_b, layout_a)


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The eval-set gram table must go BroadcastHashJoin against the
    corpus gram stream — the corpus is never shuffled on content."""
    from go_pandas_spark.operators import dedup
    from pyspark.sql import functions as F

    docs = gp.read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    out = dedup.decontaminate(docs, bench, "doc_id", "text", n=3)
    plan = _plan(out, "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_repetition_signals_partial_aggregation(spark, sf_dir):
    """Both gram-count aggregations must partial-combine map-side
    (HashAggregate pairs around each exchange) and stay UDF-free."""
    from go_pandas_spark.operators import text

    docs = gp.read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    out = text.repetition_signals(docs, "doc_id", "text")
    plan = _plan(out, "simple")
    assert plan.count("HashAggregate") >= 4, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker


def test_classifier_score_stays_jvm(spark, sf_dir):
    from go_pandas_spark.operators import text
    from pyspark.sql import functions as F

    docs = gp.read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    w = text.default_classifier_weights(64)
    out = docs.select("doc_id", text.linear_quality_score(F.col("text"), w).alias("s"))
    plan = _plan(out, "simple")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert marker not in plan, marker


def test_shuffle_shards_single_exchange(spark, sf_dir):
    """The sharded training shuffle pays exactly ONE hash exchange (on
    shard) — no global sort, no single-partition window."""
    from go_pandas_spark.operators.text import shuffle_shards

    docs = gp.read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    plan = _plan(shuffle_shards(docs.select("doc_id"), "doc_id",
                                seed=1, n_shards=16), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "hashpartitioning(__shard__" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_quantize_int8_zero_exchanges(spark, sf_dir):
    """int8 quantization is pure array transforms over one scan."""
    from go_pandas_spark.operators.similarity import quantize_int8

    emb = gp.read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    plan = _plan(quantize_int8(emb), mode="simple")
    assert "Exchange" not in plan, plan


def test_vocab_topk_uses_take_ordered(spark, sf_dir):
    """Top-k vocabulary compiles to partial+final hash aggregation and
    TakeOrderedAndProject (per-partition heaps, k-row driver merge),
    never a global sort of the vocabulary."""
    from go_pandas_spark.operators.text import vocab_topk

    docs = gp.read_parquet(spark, f"{sf_dir}/documents.parquet").to_spark()
    plan = _plan(vocab_topk(docs, "text", k=50), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def _windows_over_rows(plan) -> list[list[str]]:
    """Partition columns of every Window in a physical plan that reads
    the row relation — i.e. whose input chain reaches a join or a scan
    before any aggregate (a Window over an aggregate reads a derived
    table, not the rows)."""
    def over_rows(node):
        while True:
            if "Aggregate" in node.nodeName():
                return False
            if node.children().size() != 1:
                return True
            node = node.children().apply(0)

    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
        if node.nodeName() == "Window" and over_rows(kids.apply(0)):
            spec = node.partitionSpec()
            refs = set()
            for i in range(spec.size()):
                attrs = spec.apply(i).references().toSeq()
                refs |= {attrs.apply(j).name() for j in range(attrs.size())}
            out.append(sorted(refs))
    return out


def test_rank_methods_tie_table_plan_and_memo(spark, sf_dir):
    """Grouped rank reads one tie table (operators/ranks.py): building
    rank_methods launches no Spark job (so the suite plan memo takes
    it), no Window over the rows is partitioned by the group key alone
    (one task per group), and the only row-level Window is method
    'first's, partitioned by (key, value)."""
    from go_pandas_spark.suite import QUERIES, register_all

    register_all()
    q = QUERIES["rank_methods"]
    q._gps_inner(spark, sf_dir)  # first read of the table lists files
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    jobs0 = sched.nextJobId()
    sdf = q._gps_inner(spark, sf_dir)
    assert sched.nextJobId() == jobs0
    assert q(spark, sf_dir) is q(spark, sf_dir)  # memoized
    wins = _windows_over_rows(sdf._jdf.queryExecution().sparkPlan())
    assert wins == [["l_quantity", "l_returnflag"]], wins
