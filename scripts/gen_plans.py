#!/usr/bin/env python3
"""Regenerate PLANS.md — physical plans of flagship queries with
commentary. Run after changing operator implementations:
    python scripts/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

NOTES = {
    "q1_pricing_summary": (
        "Filter pushed to the parquet scan; decimal sums partial-aggregate "
        "map-side before one shuffle on (returnflag, linestatus); TakeOrdered "
        "handles the final sort."),
    "q5_local_supplier_volume": (
        "Six-way join chain: every dimension side goes BroadcastHashJoin (no "
        "shuffle of lineitem); the single aggregation shuffles only (n_name, "
        "partial sums)."),
    "merge_asof_backward": (
        "Union-tag + window: ONE hash exchange on user_id, one sort, window "
        "last() carries the match - same cost shape as a sort-merge join."),
    "dedup_minhash_lsh": (
        "Signature = explode + 32 codegen min-aggregates (partial+final); "
        "candidates = bucket aggregation (no self-join); verification joins "
        "candidate pairs against cached gram arrays."),
    "similarity_cosine_topk": (
        "Query set broadcast; corpus scanned once; per-query top-k via window "
        "over the broadcast-nested-loop result."),
    "q21_last_to_ship": (
        "Per-order stats (max ship date, supplier count) are WINDOW aggregates "
        "riding the lineitem-orders join's hash partitioning on the order key — "
        "no aggregate+join-back, so order-grain data (which scales with the "
        "fact table) shuffles exactly once."),
    "q13_customer_distribution": (
        "Outer join preserves zero-order customers; the two aggregations "
        "shuffle on c_custkey then on the (small) count domain — the second "
        "exchange is tiny at any scale."),
    "custom_business_day_holidays": (
        "Both calendar joins broadcast (the calendar is O(span-days) rows); "
        "the orders scan never shuffles."),
    "rolling_ungrouped_global": (
        "Whole-frame rolling with NO group keys: block id and global "
        "position derive arithmetically from the monotonic order id; "
        "boundary rows explode into their neighbor block via scalar CASE "
        "comparisons (codegen), ONE scan, ONE exchange on __blk__ — many "
        "tasks where the naive plan is ONE global-window task. Above 64 "
        "source partitions the literal block table becomes a broadcast "
        "join (plan size independent of P)."),
    "cumulative_ungrouped_global": (
        "Ungrouped running aggregates: per-block partials + a P-row prefix "
        "carry broadcast back — no global window anywhere in the plan."),
    "merge_asof_global_noby": (
        "As-of join without by-keys: the running pick is block-partitioned "
        "with a cross-block carry instead of one global window."),
    "gopher_repetition_filter": (
        "Repetition signals: NGram explode feeds two hash-aggregates that "
        "partial-combine map-side; the only shuffles are on uniform "
        "(doc_id, gram) / doc_id keys — skew-free at any corpus size."),
    "decontaminate_ngram_overlap": (
        "Benchmark decontamination: the eval set's distinct n-grams go "
        "BroadcastHashJoin against the corpus gram stream — the corpus is "
        "never shuffled on content, only the per-doc count aggregation."),
    "pack_sequences_chunked": (
        "Global token-tape packing: the running token offset is the blocked "
        "distributed cumsum (per-block window + literal prefix carry via ONE "
        "element_at lookup) — no single-task global window, plan O(P)."),
    "chunk_documents_sliding": (
        "RAG chunking is ONE whole-stage-codegen span: scan → split → "
        "sequence/explode → filter → slice/join, ZERO exchanges — output "
        "is produced at scan speed, ∝ total tokens."),
    "dedup_paragraphs_global": (
        "Paragraph dedup: both sides derive from the same posexplode "
        "stream; the first-occurrence table aggregates min(doc,pos) per "
        "paragraph digest (uniform md5 keys), then joins back. The "
        "broadcast here is AQE's size-based choice at sf0.01 — no hint is "
        "forced, so at corpus scale it becomes a digest-keyed shuffle "
        "join; reassembly is one collect_list per doc."),
    "url_domain_stats": (
        "URL/domain stats: narrow regexp extract + explode feeds a "
        "two-phase distinct-count aggregate (partial on (domain, doc) "
        "map-side) — the only shuffles are on the domain key."),
    "dedup_components": (
        "Near-dup components: exact-Jaccard pairs from the memoized "
        "shingle index, then min-label propagation over EDGE ENDPOINTS "
        "only. The printed plan is intentionally SHALLOW — each "
        "iteration localCheckpoints its label generation, so the final "
        "plan is a scan of materialized label blocks unioned with the "
        "singleton anti-join, not an O(4^rounds) lineage (which "
        "Catalyst would re-analyze on every action)."),
    "semdedup_embeddings": (
        "SemDedup: one persisted pass computes cell assignment + unit "
        "vectors; the |cell|² candidate step joins the persisted stage "
        "to itself on the cell key and pays ONE dot product per pair "
        "(vectors pre-normalized per row); components run on the "
        "sparse pair list."),
    "bucket_by_length_batches": (
        "Dynamic batching: one exchange on the ~log(max_len) power-of-2 "
        "bucket keys, a per-bucket running-sum window, tape cut as pure "
        "arithmetic — no Python, no second shuffle."),
    "remove_boilerplate_lines": (
        "CCNet boilerplate removal: line digests shuffle once for the "
        "document-frequency count (uniform md5 keys), hot lines anti-join "
        "back, and each doc reassembles with array_sort inside its own "
        "group — no window over the corpus."),
    "shuffle_shards_deterministic": (
        "Sharded training shuffle: md5 key computed in the scan project, "
        "ONE hash exchange on shard, shard-local sort for the window — "
        "no global sort, no single-partition window."),
    "vocab_top100": (
        "Wordcount shuffle (partial+final hash aggregate on the token) "
        "then TakeOrderedAndProject — per-partition top-k heaps, driver "
        "merges k rows; the rank window touches only the k survivors."),
    "quantize_embeddings_int8": (
        "Pure JVM array transforms over one scan — zero exchanges; scale "
        "staged as a column so the max-fold runs once per vector, not "
        "per element."),
    "ewm_var_noadjust_global": (
        "Ungrouped ewm(adjust=False) variance: the renormalizing "
        "recursion rides per-block affine chains — parallel summarize, "
        "a ≤P-step driver fold, parallel evaluate. The plan shows two "
        "applyInPandas passes hash-partitioned on __blk__; no "
        "Coalesce(1), no global window."),
    "ewm_cov_corr_global": (
        "Ungrouped ewm cov/corr (adjust=True): centred discounted sums "
        "and pairwise T/U sums with linear block carries (the one EWM "
        "kernel, distwindow.ewm_blocked). Same blocked two-pass plan; "
        "cov and corr share one engine pass."),
    "ngram_bigram_top50": (
        "Bigram vocabulary head: tokenization + adjacent-pair zip in the "
        "scan project, one wordcount shuffle (partial+final hash "
        "aggregate on the bigram), TakeOrderedAndProject for the head."),
    "ffill_global_limit": (
        "Whole-frame ffill with limit: blocked running pick + blocked "
        "running count + a picked row-number marker give the "
        "count-since-last-valid gap check — hash exchanges on __blk__, "
        "P-row broadcast carries, no global window."),
    "interpolate_global_linear": (
        "Whole-frame linear interpolation: prev/next value+position "
        "come from ONE multi-direction blocked pick pass (r9 — both "
        "directions share the block exchange and sort); the "
        "interpolation algebra is one JVM projection."),
    "expanding_median_approx_global": (
        "Blocked approximate expanding median (approx=True): one "
        "grid job, per-block packed bincount summaries, exact rank "
        "replay per block — two applyInPandas passes over the block "
        "partitioning, prefix counts joined as a broadcast table."),
    "expanding_median_approx_grouped": (
        "Grouped approx expanding median: giant groups (forced by the "
        "query threshold) ride the per-group grid+rank engine keyed "
        "(group, block); small groups keep the exact percentile "
        "window; the branches union."),
    "expanding_moments_global": (
        "Whole-frame expanding skew/kurt/cov/corr in ONE fused "
        "moments() pass (r9): all power sums and pairwise-masked "
        "cross sums share a single __blk__ exchange; carries are "
        "driver-collected broadcast relations, so the plan holds ZERO "
        "Exchange SinglePartition subtrees (the r8 chained form held "
        "85). The moment algebra is one projection."),
    "dup_label_pipeline": (
        "Duplicate column labels are pure METADATA (physical names stay "
        "unique): the whole rename-collision -> dup-getitem -> set_axis "
        "escape pipeline collapses to one parquet scan with the filter "
        "pushed down and a single projection — zero exchanges, zero "
        "extra columns read."),
    "merge_inner_multikey": (
        "Filters pushed to both scans, pruned ReadSchema, single-stage "
        "BroadcastHashJoin under AQE — no shuffle. The r10->r11 "
        "output-naming rework (named-selection list + post-suffix "
        "collision handling) leaves the physical plan identical."),
    "dup_label_agg": (
        "Whole-frame reductions on a dup-labeled frame (r12): ONE "
        "partial+final aggregate job over the unique physical columns "
        "— the per-occurrence label fan-out is driver-side metadata, "
        "zero extra scans or exchanges vs the unique-label case."),
    "dup_label_merge": (
        "merge with a duplicate-labeled INPUT (r12): the (physical, "
        "label) pair rework keeps the plan the same shuffled hash "
        "join + hash aggregate it would be without dups — suffix/"
        "overlap decisions never touch the physical plan."),
    "dup_tuple_concat": (
        "concat(axis=1) with duplicate TUPLE labels (r13): one hash "
        "aggregation on (nationkey, segment), one pivot shuffle, then "
        "a self-join on the index key — the dup-tuple layer (fresh "
        "physical names + repeated tuple values in the label map) is "
        "projections only; partial outer-level selection and the "
        "set_axis escape add zero exchanges."),
    "multiindex3_unstack": (
        "3-key groupby -> unstack(level by NAME) -> swaplevel -> "
        "sort_index (r12): one hash aggregation shuffle on the 3 keys, "
        "one pivot shuffle on the surviving 2 — swaplevel/sort_index "
        "level addressing is pure metadata over the __index_i__ "
        "columns and adds no exchange."),
}


def main() -> None:
    from go_pandas_spark import get_spark
    from go_pandas_spark.suite import QUERIES, register_all

    register_all()
    spark = get_spark()
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    out = ["# PLANS — physical-plan audit of flagship queries\n",
           "Generated by scripts/gen_plans.py at sf0.01. The point of each plan:",
           "does it read only what it needs, shuffle only where required, and",
           "stay inside whole-stage codegen (`*(n)` spans)?\n"]
    for name, note in NOTES.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            QUERIES[name](spark, sf).explain("simple")
        out += [f"## {name}\n", note + "\n", "```", buf.getvalue().strip(), "```\n"]

    # at-rest IVF probe: not a suite query (it writes an index first);
    # the point of the plan is the PartitionFilters row — probing
    # n_probe cells is partition PRUNING, the other cells' files are
    # never opened
    import shutil
    import tempfile

    from go_pandas_spark.operators.similarity import (
        ivf_probe_topk, ivf_train, ivf_write_index)
    from go_pandas_spark.sources.io import read_parquet

    emb = read_parquet(spark, f"{sf}/embeddings.parquet").to_spark()
    tmp = tempfile.mkdtemp(prefix="plans_ivf_")
    try:
        cents = ivf_train(emb, n_cells=16, iters=0)
        ivf_write_index(emb, f"{tmp}/index", cents)
        probe = ivf_probe_topk(spark, f"{tmp}/index", emb.limit(8), cents,
                               k=5, n_probe=4)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            probe.explain("formatted")
        plan = buf.getvalue()
        pf = [ln.strip() for ln in plan.splitlines() if "PartitionFilters" in ln]
        out += ["## ivf_probe_topk (at-rest IVF index)\n",
                "Probe of the cell-partitioned parquet index: the cell "
                "IN-list lands in PartitionFilters, so only the probed "
                "cells' files are ever opened — the 100 TB ANN shape. "
                "Queries broadcast; exact-cosine re-rank per query.\n",
                "```", *pf, "```\n"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


if __name__ == "__main__":
    main()
