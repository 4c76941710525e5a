"""Similarity-search quality gates: the approximate paths (LSH, IVF)
are probabilistic by design, so they are tested by recall against the
exact brute-force baseline rather than by value hashes."""

from __future__ import annotations

from pyspark.sql import functions as F

import go_pandas_spark as gp
from go_pandas_spark.operators import similarity


def _pairs(df):
    return {(r["query_id"], r["vec_id"]) for r in df.select("query_id", "vec_id").collect()}


def test_ivf_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = gp.read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _pairs(similarity.cosine_topk(emb, q, k=5))
    approx = _pairs(similarity.ivf_topk(emb, q, k=5, n_cells=8, n_probe=4))
    recall = len(exact & approx) / len(exact)
    # the fixture has 10 labeled clusters; probing half the cells must
    # recover the bulk of the true neighbors
    assert recall >= 0.7, f"IVF recall {recall:.2f}"


def test_ivf_train_deterministic_shape(spark, sf_dir):
    emb = gp.read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    cents = similarity.ivf_train(emb, n_cells=4, iters=1)
    assert len(cents) == 4 and all(len(c) == 64 for c in cents)
    # init is the smallest-id vectors (no RNG): training twice is identical
    cents2 = similarity.ivf_train(emb, n_cells=4, iters=1)
    assert cents == cents2


def test_lsh_topk_recall_vs_bruteforce(spark, sf_dir):
    emb = gp.read_parquet(spark, f"{sf_dir}/embeddings.parquet").to_spark()
    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = _pairs(similarity.cosine_topk(emb, q, k=5))
    approx = _pairs(similarity.lsh_topk(emb, q, k=5, n_planes=16, bands=8))
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall {recall:.2f}"


def test_connected_components_chain_and_singletons(spark):
    """Min-label propagation must close transitive chains (worst-case
    diameter, not just near-cliques) and keep singletons as their own
    component."""
    import pandas as pd
    from pyspark.sql import functions as F

    from go_pandas_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5-6-7, clique {10,11,12}, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),
         (10, 11), (11, 12), (10, 12)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in
                                   [1, 2, 3, 4, 5, 6, 7, 10, 11, 12, 20]],
                                  "doc_id long")
    out = connected_components(pairs, nodes=nodes, node_col="doc_id") \
        .toPandas().set_index("doc_id")["component"].to_dict()
    assert all(out[i] == 1 for i in range(1, 8))
    assert all(out[i] == 10 for i in (10, 11, 12))
    assert out[20] == 20


def test_semdedup_auto_cells_bounded_on_skew(spark):
    """n_cells=None auto-sizes to ~sqrt(N) (clamped): on a skewed
    embedding set (half the corpus near one point) the per-cell
    population must stay well under N — the quadratic step is confined
    to cells, so this is the property that keeps SemDedup ~linear."""
    import numpy as np

    from go_pandas_spark.operators.similarity import auto_n_cells, semdedup, ivf_train, _nearest_cell
    from pyspark.sql import functions as F

    assert auto_n_cells(0) == 4
    assert auto_n_cells(100) == 10
    assert auto_n_cells(1_000_000) == 1000
    assert auto_n_cells(10**12) == 4096

    rng = np.random.RandomState(3)
    n = 400
    # skew: 50% of points clustered tightly around one vector
    base = rng.normal(0, 1, 4)
    rows = []
    for i in range(n):
        if i % 2 == 0:
            v = base + rng.normal(0, 0.01, 4)
        else:
            v = rng.normal(0, 1, 4)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    k = auto_n_cells(n)
    cents = ivf_train(emb, n_cells=k)
    sizes = (emb.withColumn("cell", _nearest_cell(F.col("embedding"), cents))
             .groupBy("cell").count().agg(F.max("count").alias("m")).first()["m"])
    # the tight cluster lands in ~1 cell: bounded by the skewed half,
    # far below N (no single cell degenerates to the whole corpus)
    assert sizes <= n * 0.75, f"max cell {sizes} of {n}"
    out = semdedup(emb, threshold=0.95)  # n_cells auto
    assert out.count() == n


def test_ivf_at_rest_index_partition_pruning(spark, tmp_path):
    """ivf_write_index materializes the IVF index as cell-partitioned
    parquet; ivf_probe_topk must (a) return the same neighbors as the
    inline ivf_topk for the probed-cell geometry, and (b) show actual
    PARTITION PRUNING in the scan — the non-probed cells' files are
    never read."""
    import numpy as np

    from go_pandas_spark.operators.similarity import (
        ivf_probe_topk, ivf_topk, ivf_train, ivf_write_index)

    rng = np.random.default_rng(7)
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 3)

    cents = ivf_train(corpus, n_cells=6, iters=1)
    path = str(tmp_path / "ivf_index")
    ivf_write_index(corpus, path, cents)

    got = ivf_probe_topk(spark, path, queries, cents, k=5, n_probe=2)
    exp = ivf_topk(corpus, queries, k=5, n_probe=2, cents=cents)
    gs = {(r["query_id"], r["vec_id"], r["rank"]) for r in got.collect()}
    es = {(r["query_id"], r["vec_id"], r["rank"]) for r in exp.collect()}
    assert gs == es and len(gs) > 0

    # partition pruning is visible in the executed plan: the cell
    # filter lands in PartitionFilters, not as a post-scan Filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "cell" in seg
    # the broadcast probe table is a JVM LocalTableScan, not a
    # Python-RDD scan that runs a Python-worker job per action
    bcast = plan.split("BroadcastExchange", 1)[1]
    assert "LocalTableScan" in bcast and "ExistingRDD" not in plan
