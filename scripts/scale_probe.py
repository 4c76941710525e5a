#!/usr/bin/env python3
"""Scale probe: run the engine's ungrouped order-dependent kernels —
the operators that are ONE sequential pass in the reference and would
naively be ONE task in Spark — on a synthetic frame 100× the sf0.1
events table, and report throughput.

    python scripts/scale_probe.py [n_rows]   (default 10_000_000)

The point is evidence for SCALE.md: the blocked plans must (a) hold
their row-throughput as data grows (no driver bottleneck, no global
window), and (b) actually distribute (the probe asserts multi-task
plans). Times are wall-clock on local[32]; on a real cluster the same
plans scale out by partition count.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    import go_pandas_spark as gp
    from pyspark.sql import functions as F

    spark = gp.get_spark("scale_probe")
    sdf = (spark.range(0, n, 1, 64)
           .withColumn("v", (F.col("id") * 2654435761 % 1000003).cast("double") / 1000.0)
           .withColumn("w", (F.col("id") * 40503 % 999983).cast("double")))
    f = gp.Frame(sdf)
    f._sdf = f._sdf.persist()
    f._sdf.count()  # materialize the input so probes time the operator

    results: dict[str, dict] = {}

    def probe(name, thunk):
        # r10 methodology: clear the engine's leaf/memo registries
        # before each line (the probe is a query boundary). Pre-r10
        # probes accumulated ~8 pinned 10M-row intermediates per
        # session, so LATER lines timed against escalating storage
        # pressure — the documented run-over-run wobble. Lines are now
        # independent. The probe INPUT stays persisted (f._sdf is the
        # caller's own cache, which materialize never copies or
        # registers).
        import go_pandas_spark as _gp

        _gp.clear_cache()
        t0 = time.time()
        out = thunk()
        nrows = out._sdf.count() if hasattr(out, "_sdf") else out
        dt = time.time() - t0
        results[name] = {"sec": round(dt, 2), "rows_per_s": int(n / dt)}
        sys.stderr.write(f"{name}: {dt:.2f}s  ({int(n/dt):,} rows/s)\n")

    probe("cumsum_global", lambda: f.assign(c=f["v"].cumsum()))
    probe("shift_diff_global", lambda: f.assign(d=f["v"].diff(3)))
    probe("rolling100_sum_global", lambda: f[["v"]].rolling(100).sum())
    # r9: rolling's VALUE-derived layout (forced by filtering, which
    # leaves order-id gaps) rides broadcast block tables — uncapped
    probe("rolling100_sum_filtered_value_layout",
          lambda: f[f["v"] > 50.0][["v"]].rolling(100).sum())
    probe("rank_global", lambda: f[["v"]].rank())
    # r10: multi-column rank pins between per-column passes (O(K)
    # build, interim pins released after the collects)
    probe("rank_multicol_global", lambda: f[["v", "w"]].rank())
    probe("expanding_mean_global", lambda: f[["v"]].expanding().mean())
    probe("ewm_mean_global", lambda: f["v"].ewm(alpha=0.1).mean()._frame)

    # r7: the last formerly-single-task surfaces, now blocked plans —
    # adjust=False var and pairwise cov/corr. Probed AND parity-checked
    # against the pandas cython kernel at full n (the reference
    # semantics at 10M rows, block-boundary carries included).
    probe("ewm_var_noadjust_global",
          lambda: f.ewm(alpha=0.1, adjust=False).var(cols=["v"]))
    probe("ewm_cov_adjust_global",
          lambda: f.ewm(alpha=0.1).cov("v", "w", out_col="c"))
    probe("ewm_corr_noadjust_global",
          lambda: f.ewm(alpha=0.1, adjust=False).corr("v", "w", out_col="r"))

    def _ewm_parity():
        import numpy as np

        pdf = f[["v", "w"]].to_pandas().reset_index(drop=True)
        for stat, mk, ref in [
            ("var_noadj",
             lambda: f.ewm(alpha=0.1, adjust=False).var(cols=["v"])[["v"]],
             lambda: pdf["v"].ewm(alpha=0.1, adjust=False).var()),
            ("cov_adj",
             lambda: f.ewm(alpha=0.1).cov("v", "w", out_col="o")[["o"]],
             lambda: pdf["v"].ewm(alpha=0.1).cov(pdf["w"])),
            ("corr_noadj",
             lambda: f.ewm(alpha=0.1, adjust=False).corr("v", "w", out_col="o")[["o"]],
             lambda: pdf["v"].ewm(alpha=0.1, adjust=False).corr(pdf["w"])),
        ]:
            got = mk().to_pandas().reset_index(drop=True).iloc[:, 0].to_numpy()
            exp = ref().to_numpy()
            assert np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True), \
                f"ewm {stat} parity FAILED at n={n}"
            sys.stderr.write(f"ewm {stat}: parity OK at n={n}\n")
        return n

    probe("ewm_second_moment_parity_vs_pandas", _ewm_parity)

    # r8: the 256-block parallelism ceiling is gone (VERDICT r7 #1/#6).
    # (a) empirical block-count curve on the same 10M rows — local[32]
    # wall-time is expected ~flat (32 cores bound the speedup; the
    # curve certifies block count adds no superlinear cost, so a
    # cluster can run 1024+ tasks), (b) a parity + block receipt at 1024
    # blocks — 4× the old ceiling.
    from go_pandas_spark import _internal as I
    from go_pandas_spark.operators import distwindow as dw

    for nb in (32, 256, 1024):
        probe(f"expanding_sum_nblocks_{nb}",
              lambda nb=nb: gp.Frame(dw.expanding_blocked(
                  f._sdf, F.col(I.ORDER_COL), {"v": ("v", "sum")},
                  n_blocks=nb)))
        probe(f"ewm_var_nblocks_{nb}",
              lambda nb=nb: gp.Frame(dw.ewm_blocked(
                  f._sdf, F.col(I.ORDER_COL), [("var", "v", "v", "v")],
                  alpha=0.1, adjust=True, ignore_na=False, n_blocks=nb)))

    def _nblocks_1024_parity():
        import numpy as np

        base = dw.block_partition(f._sdf, F.col(I.ORDER_COL),
                                  n_blocks=1024, monotonic_id=True)
        nblk = int(base.select(F.countDistinct(dw.BLK)).first()[0])
        assert nblk > 256, f"expected >256 blocks, got {nblk}"
        results["nblocks_1024_distinct_blocks"] = {"blocks": nblk}
        pv = f[["v"]].to_pandas().reset_index(drop=True)["v"]
        got = (gp.Frame(dw.ewm_blocked(f._sdf, F.col(I.ORDER_COL),
                                       [("var", "v", "v", "v")], alpha=0.1,
                                       adjust=True, ignore_na=False,
                                       n_blocks=1024))[["v"]]
               .to_pandas().reset_index(drop=True)["v"].to_numpy())
        exp = pv.ewm(alpha=0.1).var().to_numpy()
        assert np.allclose(got, exp, rtol=1e-6, atol=1e-9, equal_nan=True), \
            "ewm var parity FAILED at n_blocks=1024"
        sys.stderr.write(f"ewm var parity OK at 1024 blocks ({nblk} distinct)\n")
        return n

    probe("ewm_var_parity_at_1024_blocks", _nblocks_1024_parity)

    # r7 audit closures at full n: whole-frame limited fill,
    # interpolate, expanding moments, rolling pairwise — all were
    # global-window single tasks before; every probe plan is blocked
    fnan = f.assign(vn=f["v"].where(f["w"] % 7 != 0))
    probe("ffill_limit_global",
          lambda: fnan.fillna(method="ffill", subset=["vn"], limit=3))
    probe("interpolate_global",
          lambda: fnan.interpolate(subset=["vn"]))
    probe("expanding_skew_global", lambda: f[["v"]].expanding().skew())
    # r9: the fused single-pass moments engine (4 statistics, one
    # blocked pass — the per-stat chain above costs one pass EACH)
    probe("expanding_moments_fused_global",
          lambda: f.expanding().moments({
              "sk": ("v", "skew"), "ku": ("v", "kurt"),
              "cv": ("v", "w", "cov"), "cr": ("v", "w", "corr")}))
    probe("expanding_corr_global",
          lambda: f.expanding().corr("v", "w").to_frame("o"))
    probe("rolling100_corr_global",
          lambda: f.rolling(100).corr("v", "w").to_frame("o"))

    # r13 metadata-layer receipts (VERDICT r12 #8): the dup-label and
    # row-MultiIndex-depth-3 layers are metadata-only by design — the
    # dup probe reduces the SAME two physical columns under unique vs
    # duplicate labels, and the unstack pair pivots the same 2M-group
    # aggregate (500k output rows × 4 categories) behind a 2-level vs
    # 3-level row index. Runtimes must sit within noise of each other.
    probe("reduce_2cols_unique_labels",
          lambda: f[["v", "w"]].sum() is not None and n)
    probe("reduce_2cols_dup_labels",
          lambda: f[["v", "v"]].sum() is not None and n)
    long2 = gp.Frame(sdf.select((F.col("id") % 500000).alias("a"),
                                (F.col("id") % 4).alias("c"), F.col("v")))
    long3 = gp.Frame(sdf.select((F.col("id") % 100000).alias("a"),
                                (F.floor(F.col("id") / 100000) % 5).alias("b"),
                                (F.col("id") % 4).alias("c"), F.col("v")))
    probe("unstack_2level_index",
          lambda: long2.groupby(["a", "c"], as_index=False)
          .agg(v=("v", "mean")).set_index(["a", "c"]).unstack(-1))
    probe("unstack_3level_index",
          lambda: long3.groupby(["a", "b", "c"], as_index=False)
          .agg(v=("v", "mean")).set_index(["a", "b", "c"]).unstack(-1))

    # corpus-op probes on the same row count: the length-bucket batch
    # cut (one bucket shuffle + per-bucket window) and CCNet boilerplate
    # line removal (digest shuffle + anti-join + group-back; n/4 docs
    # of 4 lines each, one line shared corpus-wide)
    from go_pandas_spark.operators import text as T

    toks = sdf.select(F.col("id").alias("doc_id"),
                      (F.col("id") * 48271 % 4000 + 1).alias("n_tokens"))

    def _bucket():
        out = T.bucket_by_length(toks, "doc_id", "n_tokens", batch_budget=8192)
        return out.count()

    probe("bucket_by_length", _bucket)

    ndocs = n // 4
    docs = (spark.range(0, ndocs, 1, 64)
            .select(F.col("id").alias("doc_id"),
                    F.concat_ws(
                        "\n",
                        F.lit("HOME | ABOUT | CONTACT"),
                        F.concat(F.lit("unique body "), F.col("id")),
                        F.concat(F.lit("more text "), F.col("id") * 7),
                        F.lit("(c) example footer")).alias("text")))

    def _boiler():
        out = T.remove_boilerplate_lines(docs, "doc_id", "text", max_df=3)
        return out.count()

    probe("remove_boilerplate_lines", _boiler)

    # r5 corpus ops at the same scale (VERDICT r5 #5): paragraph dedup,
    # ExactSubstr span dedup, sliding-window chunking, DSIR weights.
    # All rows/s figures are relative to n (nominal token scale).
    paras = (spark.range(0, ndocs, 1, 64)
             .select(F.col("id").alias("doc_id"),
                     F.concat_ws(
                         "\n\n",
                         F.lit("shared corporate boilerplate paragraph"),
                         F.concat(F.lit("unique para "), F.col("id")),
                         F.concat(F.lit("second unique "), F.col("id") * 13),
                         # every 16 docs share this paragraph
                         F.concat(F.lit("cluster para "), (F.col("id") % 16))).alias("text")))

    probe("dedup_paragraphs_global",
          lambda: T.dedup_paragraphs(paras, "doc_id", "text").count())

    # token docs: 32 tokens each, half carry a duplicated 12-token span
    ntokdocs = max(n // 32, 1)
    body = F.concat_ws(" ", *[
        F.concat(F.lit(f"w{j}_"), (F.col("id") * (j + 7)) % 99991) for j in range(20)])
    span = F.when(F.col("id") % 2 == 0,
                  F.lit(" the same twelve token span pasted into every even document here"))\
            .otherwise(F.concat_ws(" ", *[
                F.concat(F.lit(f"u{j}_"), (F.col("id") * (j + 3)) % 88883) for j in range(12)]))
    tokdocs = (spark.range(0, ntokdocs, 1, 64)
               .select(F.col("id").alias("doc_id"), F.concat(body, span).alias("text")))

    from go_pandas_spark.operators import dedup as D

    probe("exact_substring_dedup",
          lambda: D.exact_substring_dedup(tokdocs, "doc_id", "text", min_len=8).count())
    probe("chunk_documents_sliding",
          lambda: T.chunk_documents(tokdocs, "doc_id", "text",
                                    chunk_size=16, overlap=4).count())

    def _dsir():
        target = tokdocs.filter(F.col("doc_id") % 3 == 0)
        return T.dsir_importance_weights(tokdocs, target, "doc_id", "text").count()

    probe("dsir_importance_weights", _dsir)

    # r6 training-plumbing ops at full n: sharded shuffle (window is
    # partitioned by shard — no global sort), split assignment (pure
    # scan), vocabulary (wordcount shuffle), int8 quantization (pure
    # scan over 64-dim synthetic vectors at n/16 rows).
    # agg over the computed columns — a bare count() would let
    # Catalyst prune the window/transform away and time nothing
    probe("shuffle_shards",
          lambda: T.shuffle_shards(sdf.select("id"), "id", seed=1, n_shards=256)
          .agg(F.sum("shard_pos"), F.max("shard")).collect() and n)
    probe("assign_splits",
          lambda: T.assign_splits(sdf.select("id"), "id")
          .groupBy("split").count().collect() and n)
    probe("vocab_counts",
          lambda: T.vocab_counts(tokdocs, "text").count())

    from go_pandas_spark.operators import similarity as S

    nvec = max(n // 16, 1)
    vecs = (spark.range(0, nvec, 1, 64)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(1), F.lit(64)),
                                lambda i: ((F.col("id") * i) % 2003).cast("float") / 1000.0
                                ).alias("embedding")))
    probe("quantize_int8",
          lambda: S.quantize_int8(vecs)
          .agg(F.sum(F.element_at("qvec", 1)), F.sum("scale")).collect() and n)

    # r7: bigram counts (wordcount shape over exploded n-grams) and the
    # quality-aware dedup representative (per-component window; skewed
    # component sizes — one giant 64k-node component among uniform
    # small ones)
    probe("ngram_counts",
          lambda: T.ngram_counts(tokdocs, "text", n=2, min_count=2).count())

    ncomp = max(n // 8, 1)
    comps = (spark.range(0, ncomp, 1, 64)
             .select(F.col("id").alias("node"),
                     F.when(F.col("id") % 17 == 0, F.lit(0))
                      .otherwise(F.col("id") % 500_000).alias("component")))
    scores = (spark.range(0, ncomp, 1, 64)
              .select(F.col("id").alias("node"),
                      ((F.col("id") * 2654435761) % 1000).cast("double").alias("score")))
    probe("keep_best",
          lambda: D.keep_best(comps, scores).filter("keep").count())

    f._sdf.unpersist()
    print(json.dumps({"metric": "scale_probe", "n_rows": n, "results": results}))


if __name__ == "__main__":
    main()
