"""Similarity search over embedding columns (array<float>).

Extension beyond the reference surface (SURVEY §7 phase 12). Two
tiers, as a 100 TB design requires:

- **Brute-force cosine top-k** — the exactness baseline. The query
  set is small by definition → broadcast join against the corpus;
  one scan, no shuffle of the big side; top-k via window or
  TakeOrderedAndProject.
- **LSH-bucketed (random hyperplane)** — the scale path. Each vector
  gets a b-bit signature from fixed pseudo-random hyperplanes;
  candidates = equi-join on (signature band); exact cosine re-ranks
  candidates. Signature computation is pure `aggregate`/`transform`
  expressions — no UDF, no Python.

Dot products use `F.zip_with` + `F.aggregate` (JVM-side; Catalyst
fuses the lambda into codegen).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame as SparkDataFrame, Window as W, functions as F


def dot(a: Column, b: Column) -> Column:
    # cast BEFORE multiplying: float32 products lose bits that change
    # top-k tie-breaks; double math is reproducible across engines
    return F.aggregate(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit(a: Column) -> Column:
    """L2-normalized copy of the vector. For pair-quadratic similarity
    steps, normalize each vector ONCE per row and compare with a plain
    dot product — cosine() per pair runs three array folds (dot + two
    norms), i.e. 3× the interpreted higher-order-function work on the
    quadratic term."""
    n = norm(a)
    return F.transform(a, lambda x: x.cast("double") / n)


def cosine_topk(corpus: SparkDataFrame, queries: SparkDataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "vec_id", qvec_col: str = "embedding") -> SparkDataFrame:
    """Exact top-k neighbors per query. ``queries`` is broadcast; the
    corpus is scanned once. Returns (query_id, vec_id, sim, rank)."""
    from .._internal import ensure_parallelism

    q = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("__qv__"))
    joined = ensure_parallelism(corpus.select(id_col, vec_col)).crossJoin(F.broadcast(q))
    joined = joined.filter(F.col(id_col) != F.col("query_id"))
    sim = cosine(F.col(vec_col), F.col("__qv__"))
    scored = joined.withColumn("sim", sim)
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, F.round("sim", 6).alias("sim"), "rank"))


# Fixed pseudo-random hyperplane weights: deterministic LCG expansion
# per (plane, dim) — reproducible across runs without shipping data.
def _plane_weight(plane: int, dim_idx: Column) -> Column:
    seed = F.lit(plane * 2_654_435_761 % 2**31)
    x = F.pmod(seed + dim_idx * F.lit(1_103_515_245) + F.lit(12_345), F.lit(2**31))
    x = F.pmod(x * F.lit(1_103_515_245) + F.lit(12_345), F.lit(2**31))
    return (x / F.lit(2**31 / 2.0)) - 1.0  # uniform [-1, 1)


def make_planes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane weights as PLAIN Python
    floats (LCG per (plane, dim) cell, uniform [-1, 1)). Computed
    driver-side once — n_planes × dim doubles, trivially broadcast as
    literals — so the exact same weights can be embedded into an
    external oracle (DuckDB SQL literal) for correctness checks."""
    out = []
    for p in range(n_planes):
        seed = p * 2_654_435_761 % 2**31
        row = []
        for i in range(dim):
            x = (seed + i * 1_103_515_245 + 12_345) % 2**31
            x = (x * 1_103_515_245 + 12_345) % 2**31
            row.append(x / (2**31 / 2.0) - 1.0)
        out.append(row)
    return out


def hyperplane_signature(vec: Column, n_planes: int = 16,
                         planes: list[list[float]] | None = None) -> Column:
    """b-bit random-hyperplane signature as a long (SimHash for
    real-valued vectors). With ``planes=`` the weights are explicit
    literals shared verbatim with any external re-implementation (the
    oracle path); default is the inline LCG expression."""
    if planes is not None:
        sig = None
        for p, w in enumerate(planes):
            proj = F.aggregate(
                F.zip_with(vec, F.lit([float(x) for x in w]),
                           lambda v, c: v.cast("double") * c),
                F.lit(0.0), lambda acc, v: acc + v)
            bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
            term = F.shiftleft(bit, p)
            sig = term if sig is None else sig.bitwiseOR(term)
        return sig
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    sig = None
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(vec, idx, lambda v, i: v.cast("double") * _plane_weight(p, i)),
            F.lit(0.0), lambda acc, v: acc + v)
        bit = F.when(proj > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, p)
        sig = term if sig is None else sig.bitwiseOR(term)
    return sig


def lsh_topk(corpus: SparkDataFrame, queries: SparkDataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "vec_id", qvec_col: str = "embedding",
             n_planes: int = 16, bands: int = 4,
             planes: list[list[float]] | None = None) -> SparkDataFrame:
    """ANN top-k: hyperplane signature → banded equi-join candidates →
    exact cosine re-rank. At 100 TB the candidate join replaces the
    full cross product; recall is tunable via bands/planes.
    ``planes=`` pins explicit literal weights (oracle-shareable)."""
    if planes is not None:
        n_planes = len(planes)
        # a plane/vector dim mismatch would zip_with-null-pad every
        # projection to NULL → all signatures 0 → every row in every
        # band bucket (the join degenerates toward a cross product)
        # with no error. One limit(1) probe catches it up front.
        first = (corpus.where(F.col(vec_col).isNotNull())
                 .select(F.size(F.col(vec_col)).alias("d")).first())
        if first is not None and first["d"] != len(planes[0]):
            raise ValueError(
                f"planes dim {len(planes[0])} != vector dim {first['d']} — "
                "build them with make_planes(n_planes, dim) for this corpus")
    if n_planes % bands:
        raise ValueError(
            f"n_planes={n_planes} must divide into bands={bands} — the top "
            f"{n_planes % bands} signature bits would be silently unused")
    rows = n_planes // bands
    mask = (1 << rows) - 1

    def with_bands(sdf, idc, vc, outid):
        sig = hyperplane_signature(F.col(vc), n_planes, planes=planes)
        sdf = sdf.select(F.col(idc).alias(outid), F.col(vc).alias(f"__{outid}_v__"),
                         sig.alias("__sig__"))
        bands_arr = F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("__sig__"), b * rows).bitwiseAND(F.lit(mask)).alias("bv"))
            for b in range(bands)])
        return (sdf.select(outid, f"__{outid}_v__", F.explode(bands_arr).alias("b"))
                .select(outid, f"__{outid}_v__", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")))

    cb = with_bands(corpus, id_col, vec_col, "cid")
    qb = with_bands(queries, qid_col, qvec_col, "query_id")
    cand = (cb.join(F.broadcast(qb), ["band", "bv"])
            .filter(F.col("cid") != F.col("query_id"))
            .select("query_id", "__query_id_v__", "cid", "__cid_v__")
            .distinct())
    sim = cosine(F.col("__cid_v__"), F.col("__query_id_v__"))
    scored = cand.withColumn("sim", sim)
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("cid").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("cid").alias(id_col), F.round("sim", 6).alias("sim"), "rank"))


def _l2sq_to(vec: Column, cent: list[float]) -> Column:
    """Squared L2 distance of an array column to a centroid literal.
    One ``F.lit(list)`` call builds the whole centroid array (per-
    element lits cost a py4j roundtrip each — measured 1s of pure
    driver time per Lloyd iteration at dim 64 x 8 cells)."""
    carr = F.lit([float(x) for x in cent])
    return F.aggregate(
        F.zip_with(vec, carr,
                   lambda v, c: (v.cast("double") - c) * (v.cast("double") - c)),
        F.lit(0.0), lambda acc, v: acc + v)


def _lit_matrix(cents: list[list[float]]) -> Column:
    """Nested-array literal via ONE ``F.expr`` parsed JVM-side.
    ``F.lit(nested_list)`` recurses into per-element py4j calls —
    measured 2.1s for a 64x64 matrix; the SQL-string form is one
    roundtrip and a JVM parse (~ms)."""
    rows = ", ".join(
        "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")" for c in cents)
    return F.expr(f"array({rows})")


def _cell_dists(vec: Column, cents: list[list[float]]) -> Column:
    """array<struct<d,i>> of squared L2 distances to EVERY centroid,
    built from one nested-array literal and a CONSTANT number of
    lambdas. The per-centroid-expression form costs O(n_cells) py4j
    lambda constructions on the driver — with ``auto_n_cells`` ~
    sqrt(N) cells that becomes minutes of driver time at 1M+ rows;
    this form is O(1) regardless of cell count."""
    carr2 = _lit_matrix(cents)
    idx = F.lit(list(range(len(cents))))
    return F.zip_with(
        carr2, idx,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(vec, c,
                           lambda v, cv: (v.cast("double") - cv) * (v.cast("double") - cv)),
                F.lit(0.0), lambda acc, x: acc + x).alias("d"),
            i.alias("i")))


def _nearest_cell(vec: Column, cents: list[list[float]]) -> Column:
    """argmin cell index over broadcast centroid literals — a single
    struct-fold so every distance is EVALUATED once (higher-order
    functions are interpreted, not codegen'd: the array_position(
    array_min) idiom walked the whole distance tree twice). First
    minimal cell wins ties, same as array_position."""
    best = F.aggregate(
        _cell_dists(vec, cents),
        F.struct(F.lit(float("inf")).alias("d"), F.lit(-1).alias("i")),
        lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc))
    return best["i"].cast("int")


def ivf_train(corpus: SparkDataFrame, n_cells: int = 16, iters: int = 2,
              id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic Lloyd's k-means for the IVF coarse quantizer,
    expressed as DataFrame programs:

    - init: the ``n_cells`` vectors with the smallest ids (reproducible,
      no RNG);
    - assign: argmin over broadcast centroid literals (JVM expressions);
    - update: per-(cell, dim) mean via posexplode + one hash aggregation.

    Centroids live on the driver between iterations — n_cells × dim
    floats, trivially small; the corpus is scanned ``iters + 1`` times
    and never shuffled except by the (cell, dim) aggregation."""
    init = corpus.orderBy(F.col(id_col)).limit(n_cells).select(vec_col).collect()
    cents = [[float(x) for x in r[vec_col]] for r in init]
    dim = len(cents[0])
    for _ in range(iters):
        assigned = corpus.select(F.col(vec_col).alias("v")).withColumn(
            "cell", _nearest_cell(F.col("v"), cents))
        upd = (assigned.select("cell", F.posexplode("v").alias("pos", "x"))
               .groupBy("cell", "pos").agg(F.avg(F.col("x").cast("double")).alias("m"))
               .collect())
        new = {(r["cell"], r["pos"]): r["m"] for r in upd}
        cents = [[new.get((c, d), cents[c][d]) for d in range(dim)]
                 for c in range(len(cents))]
    return cents


def ivf_topk(corpus: SparkDataFrame, queries: SparkDataFrame, k: int = 5,
             n_cells: int = 16, n_probe: int = 4, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "vec_id", qvec_col: str = "embedding",
             cents: list[list[float]] | None = None) -> SparkDataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into cells,
    probe the ``n_probe`` nearest cells per query, exact-cosine re-rank
    inside the probed cells.

    Scale path vs brute force: the scored set shrinks from |corpus| ×
    |queries| to |corpus| × n_probe/n_cells × |queries|. The corpus is
    scanned once with its cell assignment computed inline (at rest, the
    assignment would be a partition column: probing = partition
    pruning). Queries are broadcast; no corpus shuffle at all."""
    if cents is None:
        cents = ivf_train(corpus, n_cells=n_cells, iters=iters,
                          id_col=id_col, vec_col=vec_col)
    from .._internal import ensure_parallelism

    # probe list per query: rank cells by distance, keep n_probe
    q = queries.select(F.col(qid_col).alias("query_id"), F.col(qvec_col).alias("__qv__"))
    probes = (q.withColumn("__d__", _cell_dists(F.col("__qv__"), cents))
              .select("query_id", "__qv__", F.explode("__d__").alias("di"))
              .select("query_id", "__qv__",
                      F.col("di.i").alias("cell"), F.col("di.d").alias("dist")))
    wq = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
    probes = (probes.withColumn("__pr__", F.row_number().over(wq))
              .filter(F.col("__pr__") <= n_probe)
              .select("query_id", "__qv__", "cell"))
    corp = ensure_parallelism(corpus.select(id_col, vec_col)).withColumn(
        "cell", _nearest_cell(F.col(vec_col), cents))
    cand = (corp.join(F.broadcast(probes), "cell")
            .filter(F.col(id_col) != F.col("query_id")))
    scored = cand.withColumn("sim", cosine(F.col(vec_col), F.col("__qv__")))
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, F.round("sim", 6).alias("sim"), "rank"))


def embedding_neardup_pairs(corpus: SparkDataFrame, threshold: float = 0.95,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            n_planes: int = 16, bands: int = 4) -> SparkDataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold.
    Candidates from banded hyperplane signatures, exact cosine
    verification (precision exact, recall from LSH)."""
    from .._internal import ensure_parallelism

    rows = n_planes // bands
    mask = (1 << rows) - 1
    sig = hyperplane_signature(F.col(vec_col), n_planes)
    # single-file corpora arrive as one partition; spread the
    # interpreted signature/cosine work across the cluster (r13)
    sdf = ensure_parallelism(corpus.select(id_col, vec_col)).select(
        id_col, vec_col, sig.alias("__sig__"))
    bands_arr = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("__sig__"), b * rows).bitwiseAND(F.lit(mask)).alias("bv"))
        for b in range(bands)])
    ex = (sdf.select(id_col, vec_col, F.explode(bands_arr).alias("b"))
          .select(id_col, vec_col, F.col("b.band").alias("band"), F.col("b.bv").alias("bv")))
    a, b = ex.alias("a"), ex.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                    F.col(f"a.{vec_col}").alias("__va__"), F.col(f"b.{vec_col}").alias("__vb__"))
            .distinct())
    out = cand.withColumn("sim", cosine(F.col("__va__"), F.col("__vb__")))
    return out.filter(F.col("sim") >= threshold).select("id_a", "id_b", F.round("sim", 6).alias("sim"))


def auto_n_cells(n_rows: int) -> int:
    """SemDedup/IVF cell-count sizing rule: ~sqrt(N) cells makes the
    expected per-cell population ~sqrt(N), so the within-cell quadratic
    candidate step is ~N total pairs — linear overall — instead of N²/k
    for a fixed small k. Clamped to [4, 4096] (centroids are broadcast
    and must stay driver-bounded)."""
    import math

    return max(4, min(4096, int(math.sqrt(max(n_rows, 1)))))


def semdedup(corpus: SparkDataFrame, threshold: float = 0.95,
             n_cells: int | None = None, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             cents: list[list[float]] | None = None) -> SparkDataFrame:
    """SemDedup-style semantic deduplication (Abbas et al. 2023,
    public): coarse-cluster the embeddings with the deterministic IVF
    quantizer, find within-cluster cosine pairs ≥ threshold, and keep
    one representative (min id of each near-dup component).

    Scale shape: the quadratic candidate step is confined INSIDE each
    cell — the corpus shuffles once on the cell key and pair
    generation is |cell|² per cell, the standard SemDedup trade (the
    paper uses k-means exactly this way). ``n_cells=None`` auto-sizes
    to ~sqrt(N) via ``auto_n_cells`` so per-cell work stays ~linear in
    the corpus; pass an explicit count only when you know the cell
    geometry you want. Component labeling then runs on the (sparse)
    pair list only.

    Returns (id, cell, component, keep) — every input id exactly once.
    """
    from .dedup import connected_components

    if cents is None:
        if n_cells is None:
            n_cells = auto_n_cells(corpus.count())
        cents = ivf_train(corpus, n_cells=n_cells, iters=iters,
                          id_col=id_col, vec_col=vec_col)
    # cell assignment + per-row L2 normalization computed ONCE and
    # materialized: four consumers (both pair sides, the CC node list,
    # the final label join) would otherwise each re-run the scan +
    # nearest-cell + normalize chain. Normalizing per row makes the
    # |cell|² step one dot product per pair instead of dot + two norms
    # (see unit()).
    # localCheckpoint, not persist (r13): persist leaves the FULL
    # nearest-cell expression tree (an O(cells·dim) literal fold) in
    # every consumer's LOGICAL plan — Catalyst re-analyzed it 4× per
    # query and the CC edges plan alone took ~2 s of pure driver
    # planning (measured; guide §3.3 "materialising an intermediate
    # truncates the plan"). The checkpoint truncates lineage to the
    # materialized blocks; same recipe connected_components itself
    # uses, same executor-loss caveat (configure a reliable checkpoint
    # dir on clusters where that must be survivable).
    # norm staged as a COLUMN before the per-element divide: the
    # inline unit() expression re-evaluates the norm fold per element
    # — O(d²) per row (interpreted higher-order functions, no CSE)
    # ensure_parallelism (r13): a single-file corpus arrives as ONE
    # partition, serializing the interpreted nearest-cell/norm folds
    # into one task — and the checkpointed layout then caps the
    # within-cell pair step at that same width (guide §2.5 input
    # skew: "repartition immediately after the read"). No-op on
    # already-wide inputs; per-row math unchanged.
    from .._internal import ensure_parallelism

    normed = (ensure_parallelism(corpus.select(id_col, vec_col))
              .withColumn("cell", _nearest_cell(F.col(vec_col), cents))
              .withColumn("__n__", norm(F.col(vec_col)))
              .withColumn("__u__", F.transform(
                  F.col(vec_col), lambda x: x.cast("double") / F.col("__n__")))
              .drop(vec_col, "__n__")
              .localCheckpoint(eager=True))
    a = normed.select(F.col("cell"), F.col(id_col).alias("id_a"),
                      F.col("__u__").alias("__ua__"))
    b = normed.select(F.col("cell"), F.col(id_col).alias("id_b"),
                      F.col("__u__").alias("__ub__"))
    pairs = (a.join(b, "cell")
             .filter(F.col("id_a") < F.col("id_b"))
             .withColumn("sim", dot(F.col("__ua__"), F.col("__ub__")))
             .filter(F.col("sim") >= threshold)
             .select("id_a", "id_b"))
    comps = connected_components(pairs, nodes=normed, node_col=id_col)
    out = (normed.select(id_col, "cell")
           .join(comps, id_col)
           .withColumn("keep", F.col("component") == F.col(id_col))
           .select(id_col, "cell", "component", "keep"))
    return out


def quantize_int8(sdf: SparkDataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> SparkDataFrame:
    """Symmetric per-vector int8 quantization for embedding storage:
    ``scale = max|v| / 127`` (1.0 for an all-zero vector), ``q_i =
    round(v_i / scale)`` ∈ [-127, 127]. A float32 embedding store
    shrinks ~4× — at 100 TB of vectors that is the difference between
    fitting the ANN working set in executor memory or not — while
    cosine top-k over the dequantized vectors typically moves recall
    by <1%. Pure JVM array transforms, zero shuffle; the scan stays
    whole-stage-codegen'd.

    Returns (id, scale double, qvec array<int>). Dequantize with
    ``dequantize_int8``."""
    amax = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))))
    scale = F.when(amax == 0.0, F.lit(1.0)).otherwise(amax / F.lit(127.0))
    # materialize scale as a COLUMN before the per-element transform:
    # referencing the scale EXPRESSION inside the lambda re-evaluates
    # the whole max-fold per element — O(d²) per vector (higher-order
    # functions are interpreted; no common-subexpression elimination)
    staged = sdf.select(F.col(id_col), F.col(vec_col), scale.alias("scale"))
    q = F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") / F.col("scale")).cast("int"))
    return staged.select(F.col(id_col), F.col("scale"), q.alias("qvec"))


def dequantize_int8(sdf: SparkDataFrame, id_col: str = "vec_id",
                    scale_col: str = "scale",
                    qvec_col: str = "qvec") -> SparkDataFrame:
    """Inverse of ``quantize_int8``: v̂_i = q_i · scale (float back
    from int8 codes). Max absolute reconstruction error is scale/2 by
    construction."""
    v = F.transform(F.col(qvec_col),
                    lambda x: x.cast("double") * F.col(scale_col))
    return sdf.select(F.col(id_col), v.alias("embedding"))


def ivf_write_index(corpus: SparkDataFrame, path: str,
                    cents: list[list[float]],
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    mode: str = "overwrite") -> None:
    """Materialize the IVF index AT REST: the corpus written to
    parquet partitioned by its cell assignment. This is the 100 TB
    form of ``ivf_topk``'s inline assignment — with ``cell`` as a
    partition column, probing n_probe cells is PARTITION PRUNING: the
    scan never opens the other cells' files at all (assert via
    PartitionFilters in the plan). Unit vectors are precomputed so
    queries pay one dot product per candidate."""
    n = norm(F.col(vec_col))
    staged = (corpus.select(id_col, vec_col)
              .withColumn("cell", _nearest_cell(F.col(vec_col), cents))
              .withColumn("__n__", n)
              .withColumn("unit_vec", F.transform(
                  F.col(vec_col), lambda x: x.cast("double") / F.col("__n__")))
              .drop("__n__"))
    staged.write.mode(mode).partitionBy("cell").parquet(path)


def ivf_probe_topk(spark, path: str, queries: SparkDataFrame,
                   cents: list[list[float]], k: int = 5, n_probe: int = 4,
                   qid_col: str = "vec_id", qvec_col: str = "embedding",
                   id_col: str = "vec_id") -> SparkDataFrame:
    """Query the at-rest IVF index written by ``ivf_write_index``:
    rank cells per query, read ONLY the probed cells (partition
    pruning — the non-probed partitions are never scanned), broadcast
    the queries, exact-cosine re-rank. The cell filter uses an IN list
    of the union of probed cells; the per-query cell match then
    narrows inside the scan."""
    q = queries.select(F.col(qid_col).alias("query_id"),
                       F.col(qvec_col).alias("__qv__"))
    probes = (q.withColumn("__d__", _cell_dists(F.col("__qv__"), cents))
              .select("query_id", "__qv__", F.explode("__d__").alias("di"))
              .select("query_id", "__qv__",
                      F.col("di.i").alias("cell"), F.col("di.d").alias("dist")))
    wq = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("cell").asc())
    probes = (probes.withColumn("__pr__", F.row_number().over(wq))
              .filter(F.col("__pr__") <= n_probe)
              .select("query_id", "__qv__", "cell"))
    # the probe table is tiny by construction (n_queries × n_probe):
    # collect it ONCE and rebuild a JVM local relation — deriving the
    # IN-list with .collect() and then joining the original subplan
    # would execute the query-side scan + window twice, and a
    # Python-list createDataFrame would run a Python-worker job in
    # every action that broadcasts it
    from .distwindow import _local_table

    rows = probes.collect()
    probed_cells = sorted({r["cell"] for r in rows})
    probes = _local_table(spark, rows, probes.schema)
    idx = spark.read.parquet(path).filter(F.col("cell").isin(probed_cells))
    cand = (idx.join(F.broadcast(probes), "cell")
            .filter(F.col(id_col) != F.col("query_id")))
    qn = F.sqrt(F.aggregate(
        F.transform(F.col("__qv__"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, v: a + v))
    sim = dot(F.col("unit_vec"), F.col("__qv__")) / qn
    w = W.partitionBy("query_id").orderBy(sim.desc(), F.col(id_col).asc())
    return (cand.withColumn("sim", F.round(sim, 6))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", id_col, "sim", "rank"))
