"""Text-analysis operators for training-data pipelines.

Extensions beyond the reference surface (SURVEY §7 phase 12):
language ID (stopword-hit heuristic), quality scoring (length /
punctuation / stopword / word-shape ratios), token counting
(whitespace + BPE-ish regex), and document fingerprinting. Every
operator is a pure JVM expression — no Python in the hot path — so
they run at parquet-scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .dedup import normalize_text

# Minimal stopword lists for the n-gram language heuristic. Small on
# purpose: they are broadcast as literal arrays inside the plan.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "with", "are", "this", "not"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von", "auf", "sich", "dem", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "des", "dans", "que", "pour", "qui", "sur", "avec"],
    "es": ["el", "la", "los", "las", "y", "es", "no", "una", "con", "por", "para", "del", "como", "pero"],
}


def tokens(c: Column) -> Column:
    return F.split(normalize_text(c), " ")


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(c))


_BPE_RE = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_token_estimate(c: Column) -> Column:
    """BPE-ish token estimate: words + single digits + punctuation
    marks, each word contributing ceil(len/4) subword units (a common
    ~4-chars-per-token heuristic)."""
    pieces = F.regexp_extract_all(c, F.lit(_BPE_RE), F.lit(0))
    units = F.transform(pieces, lambda p: F.ceil(F.length(p) / 4.0).cast("long"))
    return F.coalesce(F.aggregate(units, F.lit(0).cast("long"), lambda acc, x: acc + x), F.lit(0).cast("long"))


def stopword_ratio(c: Column, lang: str = "en") -> Column:
    toks = tokens(c)
    hits = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]])))
    # array_intersect dedups; count actual hit tokens for a true ratio
    hit_tokens = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
    return hit_tokens / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(c: Column) -> Column:
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def upper_ratio(c: Column) -> Column:
    n_upper = F.length(c) - F.length(F.regexp_replace(c, r"[A-Z]", ""))
    n_alpha = F.length(c) - F.length(F.regexp_replace(c, r"[A-Za-z]", ""))
    return n_upper / F.greatest(n_alpha, F.lit(1))


def mean_word_len(c: Column) -> Column:
    toks = tokens(c)
    total = F.aggregate(F.transform(toks, lambda t: F.length(t).cast("long")),
                        F.lit(0).cast("long"), lambda a, x: a + x)
    return total / F.greatest(F.size(toks), F.lit(1))


def quality_score(c: Column) -> Column:
    """Composite [0,1] quality score: rewards stopword presence and
    sane word shapes, penalizes punctuation soup and shouting.
    Deterministic expression — auditable, reproducible, cheap."""
    sw = stopword_ratio(c)
    pr = punct_ratio(c)
    ur = upper_ratio(c)
    mwl = mean_word_len(c)
    length_ok = F.when((F.length(c) >= 50) & (F.length(c) <= 100_000), 1.0).otherwise(0.5)
    sw_term = F.least(sw * F.lit(4.0), F.lit(1.0))          # ~25% stopwords = perfect
    punct_term = F.greatest(F.lit(1.0) - pr * 4.0, F.lit(0.0))
    caps_term = F.greatest(F.lit(1.0) - ur * 2.0, F.lit(0.0))
    shape_term = F.when((mwl >= 3) & (mwl <= 10), 1.0).otherwise(0.5)
    return F.round((sw_term * 0.4 + punct_term * 0.2 + caps_term * 0.2 + shape_term * 0.2) * length_ok, 6)


def detect_language(c: Column) -> Column:
    """Stopword-hit language ID across the STOPWORDS table; returns the
    argmax language code or 'unknown' when nothing matches."""
    toks = tokens(c)

    def _hit(words):
        ws = list(words)
        return lambda t: t.isin(ws)  # arity-1: F.filter passes (x, i) to arity-2 lambdas

    scores = [(lang, F.size(F.filter(toks, _hit(words)))) for lang, words in STOPWORDS.items()]
    best_score = F.greatest(*[s for _, s in scores])
    expr = F.lit("unknown")
    for lang, s in reversed(scores):  # earlier langs win ties
        expr = F.when((s == best_score) & (best_score > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(c: Column) -> Column:
    """Content fingerprint: md5 of the normalized text. The reference
    analog is SipHash row hashing (``pandas/_libs/hashing.pyx``); md5
    here because it is reproducible across engines (oracle-checkable)."""
    return F.md5(normalize_text(c))


# ---------------------------------------------------------------------------
# Corpus-hygiene operators (round 4): repetition signals, PII scrubbing,
# sequence packing, mixture weights. All distributed-by-construction:
# explode + hash-aggregate (map-side combined), broadcast scalar joins,
# or the blocked running-sum expressions from operators/distwindow.
# ---------------------------------------------------------------------------

#: Public, well-known PII surface patterns (kept deliberately simple so
#: the same regex runs identically under Java regex and RE2).
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_counts(c: Column) -> dict[str, Column]:
    """Per-pattern match counts (one pass per pattern, pure JVM)."""
    return {name: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
            for name, pat, _ in PII_PATTERNS}


def scrub_pii(c: Column) -> Column:
    """Redact the PII surface patterns, in declaration order (emails
    first so phone/ip patterns never fire inside an address)."""
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def split_lines(c: Column) -> Column:
    """Non-empty lines of a document (array<string>)."""
    return F.filter(F.split(c, r"\n"), lambda l: F.length(F.trim(l)) > 0)


def duplicate_line_fraction(c: Column) -> Column:
    """Fraction of lines that are repeats of an earlier line — the
    classic boilerplate signal (navbars, cookie banners)."""
    ls = split_lines(c)
    return (F.size(ls) - F.size(F.array_distinct(ls))) / F.greatest(F.size(ls), F.lit(1))


def _grams_exploded(sdf, id_col: str, text_col: str, n: int):
    """(id, gram) — NON-distinct word n-grams, one row per occurrence
    (JVM NGram; same <n-words fallback as dedup.shingle_frame)."""
    from pyspark.ml.feature import NGram

    words = sdf.select(F.col(id_col),
                       F.split(normalize_text(F.col(text_col)), " ").alias("__w__"))
    grams = NGram(n=n, inputCol="__w__", outputCol="__g__").transform(words)
    g = F.when(F.size("__g__") > 0, F.col("__g__")) \
         .otherwise(F.array(F.concat_ws(" ", F.col("__w__"))))
    return grams.select(F.col(id_col), F.explode(g).alias("gram"))


def repetition_signals(sdf, id_col: str, text_col: str,
                       top_n: int = 2, dup_n: int = 3):
    """Gopher-style within-document repetition signals (Rae et al.
    2021, public): the character fraction claimed by the single most
    frequent ``top_n``-gram, and the fraction covered by ``dup_n``-grams
    occurring more than once. Shape: explode → (id, gram) hash-agg →
    per-id agg — both aggregations partial-combine map-side, and the
    only shuffles are on the uniform (id, gram) / id keys, so the plan
    is skew-free at any corpus size."""
    base = sdf.select(F.col(id_col),
                      F.length(normalize_text(F.col(text_col))).alias("__nchars__"))

    top_counts = (_grams_exploded(sdf, id_col, text_col, top_n)
                  .groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
                  .groupBy(id_col)
                  .agg(F.max(F.struct(F.col("cnt"), F.length("gram").alias("glen"),
                                      F.col("gram"))).alias("top")))
    dup_counts = (_grams_exploded(sdf, id_col, text_col, dup_n)
                  .groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("cnt"))
                  .groupBy(id_col)
                  .agg(F.sum(F.when(F.col("cnt") >= 2,
                                    F.length("gram") * F.col("cnt"))
                             .otherwise(F.lit(0))).alias("dupchars")))
    den = F.greatest(F.col("__nchars__"), F.lit(1))
    return (base.join(top_counts, id_col, "left").join(dup_counts, id_col, "left")
            .select(F.col(id_col),
                    F.round(F.least(F.col("top.cnt") * F.col("top.glen") / den,
                                    F.lit(1.0)), 6).alias(f"top_{top_n}gram_frac"),
                    F.round(F.least(F.coalesce(F.col("dupchars"), F.lit(0)) / den,
                                    F.lit(1.0)), 6).alias(f"dup_{dup_n}gram_frac")))


def pack_sequences(sdf, id_col: str, token_col: str, budget: int,
                   by: list[str] | None = None):
    """Concat-and-chunk sequence packing: documents in ``id_col`` order
    are laid head-to-tail on a token tape and the tape is cut every
    ``budget`` tokens — each doc is assigned the training sequence its
    first token lands in (the standard GPT-style packing layout).

    Grouped (``by``) packing uses a per-group window; the global tape
    is the blocked running sum of operators/distwindow
    (``expanding_blocked``), so no single task ever sees the whole
    corpus."""
    from pyspark.sql import Window as W

    tok = F.col(token_col).cast("long")
    if by:
        w = W.partitionBy(*by).orderBy(id_col) \
             .rowsBetween(W.unboundedPreceding, W.currentRow)
        cum = F.sum(tok).over(w)
    else:
        from .distwindow import expanding_blocked

        sdf = expanding_blocked(sdf.withColumn("__tok__", tok), F.col(id_col),
                                {"__cum__": ("__tok__", "sum")})
        cum = F.col("__cum__")
    start = cum - tok
    return sdf.withColumns({
        "seq_id": F.floor(start / F.lit(budget)),
        "seq_offset": start % F.lit(budget),
    }).drop("__tok__", "__cum__")


def bucket_by_length(sdf, id_col: str, token_col: str, batch_budget: int,
                     min_bucket_pow: int = 4):
    """Length-bucketed dynamic batching: documents are routed to a
    power-of-2 token-length bucket (floor(log2(n)), clamped below at
    2**min_bucket_pow) and, within each bucket in ``id_col`` order,
    cut into batches on ``batch_budget``-token tape boundaries: a doc
    joins the window its last token lands in, so multi-doc batch sums
    are bounded by ``batch_budget`` + one doc. Same-bucket docs are
    within 2x of each other in length, so batch cost stays
    near-uniform — which is the point of length bucketing.

    Scale shape: one shuffle on the bucket key; the running sum is a
    per-bucket window (buckets are ~log(max_len) distinct values, each
    internally ordered — skew across buckets is bounded by the corpus
    length distribution, and a hot bucket can be salted by the caller
    splitting on ``batch_id`` afterwards). No Python in the plan."""
    from pyspark.sql import Window as W

    tok = F.col(token_col).cast("long")
    floor_n = F.lit(2 ** min_bucket_pow).cast("long")
    bucket = F.floor(F.log2(F.greatest(tok, floor_n))).cast("int")
    sdf = sdf.withColumn("len_bucket", bucket)
    w = W.partitionBy("len_bucket").orderBy(id_col) \
         .rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = F.sum(tok).over(w)
    # tape cut on the doc's END position: ceil(cum/budget)-1
    return sdf.withColumn(
        "batch_id", (F.ceil(cum / F.lit(batch_budget)) - 1).cast("bigint"))


def temperature_weights(sdf, by: str, alpha: float = 0.7):
    """Temperature-based mixture reweighting (multilingual-LM style,
    e.g. XLM-R): group shares p_g are flattened to q_g ∝ p_g^alpha and
    each group gets the per-example sampling weight q_g / p_g. Two tiny
    aggregates + a broadcast scalar join — nothing scales with rows."""
    counts = sdf.groupBy(by).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("__N__"),
                     F.sum(F.pow(F.col("n_docs").cast("double"), F.lit(alpha)))
                     .alias("__Z__"))  # Z in count^alpha units: q = n^a/Z
    out = counts.join(F.broadcast(tot))
    p = F.col("n_docs") / F.col("__N__")
    q = F.pow(F.col("n_docs").cast("double"), F.lit(alpha)) / F.col("__Z__")
    return out.select(F.col(by), F.col("n_docs"),
                      F.round(p, 6).alias("p_native"),
                      F.round(q, 6).alias("p_temperature"),
                      F.round(q / p, 6).alias("sample_weight"))


def md5_bucket(c: Column, dim: int) -> Column:
    """Deterministic engine-independent feature bucket: first 8 hex
    chars of md5 → bigint → mod dim (same recipe DuckDB can express,
    so classifier scores are oracle-checkable)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("bigint") % dim


def default_classifier_weights(dim: int = 256) -> list[float]:
    """Reproducible pseudo-random weight vector in [-1, 1] derived
    from md5 of the index — a stand-in for trained fastText-style
    quality-classifier weights (the plumbing, not the model)."""
    import hashlib

    return [(int(hashlib.md5(f"w{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
            / 1000.0 for i in range(dim)]


def linear_quality_score(c: Column, weights: list[float]) -> Column:
    """Hashed bag-of-words linear classifier score (CCNet/GPT-3-style
    quality filtering plumbing): tokens hash into ``len(weights)``
    buckets, the mean bucket weight goes through a sigmoid. The weight
    vector is embedded as ONE broadcast literal array; scoring is a
    single JVM fold over the token array — classifier inference at
    parquet-scan speed, no UDF, no model server."""
    dim = len(weights)
    warr = F.array(*[F.lit(w) for w in weights])
    toks = tokens(c)
    total = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, t: acc + F.element_at(warr, (md5_bucket(t, dim) + 1).cast("int")))
    mean = total / F.greatest(F.size(toks), F.lit(1))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-mean))


def hashed_gram_buckets(c: Column, dim: int = 256) -> Column:
    """DSIR hashed n-gram features (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", public): unigram +
    bigram md5 buckets per document as an int array. Same bucket
    recipe as ``md5_bucket`` so DuckDB oracles can reproduce it."""
    toks = tokens(c)
    big = F.when(
        F.size(toks) >= 2,
        F.transform(F.slice(toks, 1, F.size(toks) - 1),
                    lambda x, i: F.concat(x, F.lit(" "),
                                          F.element_at(toks, (i + F.lit(2)).cast("int"))))
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, big)
    return F.transform(grams, lambda g: md5_bucket(g, dim).cast("int"))


def _bucket_logprobs(sdf, text_col: str, dim: int) -> list[float]:
    """Add-1-smoothed log bucket distribution of a corpus: ONE
    explode + partial-combining hash-agg; the collect is dim-bounded
    (≤ dim rows) regardless of corpus size."""
    import math

    rows = (sdf.select(F.explode(hashed_gram_buckets(F.col(text_col), dim)).alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("c")).collect())
    total = sum(r["c"] for r in rows)
    by = {r["b"]: r["c"] for r in rows}
    return [math.log((by.get(i, 0) + 1.0) / (total + dim)) for i in range(dim)]


def dsir_importance_weights(raw_sdf, target_sdf, id_col: str, text_col: str,
                            dim: int = 256):
    """DSIR importance-resampling weights: per-document
    ``log p_target(features) - log p_raw(features)`` under hashed
    n-gram bag models. Two dim-bounded distribution jobs fit the
    models; scoring is one broadcast literal array + a JVM fold per
    document — no UDF and no shuffle on the scoring pass, so the
    selection sweep runs at parquet-scan speed on the raw corpus.
    Downstream: resample raw docs with probability ∝ exp(weight)
    (e.g. via sample_stratified_deterministic on a weight bucket)."""
    lp = _bucket_logprobs(target_sdf, text_col, dim)
    lq = _bucket_logprobs(raw_sdf, text_col, dim)
    warr = F.array(*[F.lit(p - q) for p, q in zip(lp, lq)])
    lw = F.aggregate(hashed_gram_buckets(F.col(text_col), dim), F.lit(0.0),
                     lambda acc, b: acc + F.element_at(warr, b + F.lit(1)))
    return raw_sdf.select(F.col(id_col), F.round(lw, 6).alias("dsir_log_weight"))


def text_stats(sdf, text_col: str):
    """One-pass projection of the full stats battery."""
    c = F.col(text_col)
    return sdf.withColumns({
        "n_chars_calc": F.length(c),
        "n_tokens": token_count(c),
        "n_bpe_tokens": bpe_token_estimate(c),
        "punct_ratio": F.round(punct_ratio(c), 6),
        "upper_ratio": F.round(upper_ratio(c), 6),
        "mean_word_len": F.round(mean_word_len(c), 6),
        "stopword_ratio_en": F.round(stopword_ratio(c), 6),
        "quality": quality_score(c),
        "lang_detected": detect_language(c),
        "fingerprint": fingerprint(c),
    })


# ---------------- markup / URL hygiene ----------------

_URL_RE = r"https?://[^\s<>\"')\]]+"


def strip_markup(c: Column) -> Column:
    """HTML/markup removal for web-scraped corpora (the extraction
    step every CommonCrawl-style pipeline runs): drop script/style
    blocks and comments wholesale, strip tags, decode the common
    entities (&amp; LAST so &amp;lt; doesn't double-decode), collapse
    whitespace. Pure JVM regexp — parquet-scan speed."""
    c = F.regexp_replace(c, r"(?is)<(script|style)[^>]*>.*?</\1>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]+>", " ")
    for ent, ch in [("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&#39;", "'"), ("&apos;", "'"), ("&nbsp;", " "),
                    ("&amp;", "&")]:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def extract_urls(c: Column) -> Column:
    """All http(s) URLs in the text as an array column."""
    return F.regexp_extract_all(c, F.lit(_URL_RE), F.lit(0))


def url_domain(u: Column) -> Column:
    """Registrable host of a URL (lowercased, www. stripped) — the key
    for domain-level corpus stats / blocklist joins."""
    return F.lower(F.regexp_extract(u, r"https?://(?:www\.)?([^/:\s]+)", 1))


def chunk_documents(sdf, id_col: str, text_col: str,
                    chunk_size: int = 128, overlap: int = 32):
    """RAG-style sliding-window chunking: whitespace-token windows of
    ``chunk_size`` advancing by ``chunk_size - overlap``. All JVM —
    tokens → start sequence → explode → slice → join; work and output
    are proportional to total tokens, no shuffle at all (narrow
    explode), so this runs at scan speed on 100 TB. A trailing window
    that would sit entirely inside the previous one (fewer than
    ``overlap`` new tokens) is skipped."""
    if not 0 <= overlap < chunk_size:
        raise ValueError("chunk_documents needs 0 <= overlap < chunk_size")
    step = chunk_size - overlap
    toks = F.split(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")), " ")
    out = (sdf.withColumn("__toks__", toks)
           .withColumn("chunk_start",
                       F.explode(F.sequence(F.lit(0),
                                            F.greatest(F.size(F.col("__toks__")) - 1, F.lit(0)),
                                            F.lit(step))))
           .filter((F.col("chunk_start") == 0)
                   | (F.size(F.col("__toks__")) - F.col("chunk_start") > overlap))
           .withColumn("chunk_id", (F.col("chunk_start") / step).cast("long"))
           .withColumn("chunk_text",
                       F.array_join(F.slice(F.col("__toks__"), F.col("chunk_start") + 1,
                                            chunk_size), " "))
           .withColumn("chunk_tokens",
                       F.least(F.size(F.col("__toks__")) - F.col("chunk_start"),
                               F.lit(chunk_size)))
           .drop("__toks__"))
    return out


def dedup_paragraphs(sdf, id_col: str, text_col: str, sep: str = "\n\n"):
    """Corpus-level exact paragraph dedup (the RefinedWeb / Gopher
    line-dedup analog): explode paragraphs with position, keep each
    distinct paragraph's GLOBAL first occurrence (min (doc, pos)),
    reassemble the surviving paragraphs per document in original
    order. One shuffle on the paragraph digest (uniform keys) + one
    group-back per doc — scales like exact dedup. Documents whose
    every paragraph was seen earlier drop out of the result (re-join
    against the source ids to materialize them as empty).

    ``sep`` is a LITERAL separator (regex-quoted for the split so the
    same string that splits also rejoins — fuzz-caught: a regex sep
    like ``"\\|"`` split on ``|`` but rejoined with the raw ``"\\|"``)."""
    ex = (sdf.select(id_col, F.posexplode(
        F.split(F.col(text_col),
                # java.util.regex.Pattern.quote: a literal \E inside
                # sep would end the quote early — split it the way
                # Pattern.quote does
                "\\Q" + sep.replace("\\E", "\\E\\\\E\\Q") + "\\E")).alias("pos", "para"))
          .withColumn("__h__", F.md5(F.col("para"))))
    first = ex.groupBy("__h__").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("f"))
    keep = (ex.join(first, "__h__")
            .filter((F.col(id_col) == F.col("f.d")) & (F.col("pos") == F.col("f.p"))))
    return (keep.groupBy(id_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("pos", "para"))),
                            lambda s: s["para"]),
                sep).alias("text_dedup"),
                F.count("*").alias("n_paras_kept")))


def remove_boilerplate_lines(sdf, id_col: str, text_col: str,
                             max_df: int = 3, min_len: int = 1):
    """CCNet-style boilerplate stripping: drop every line whose
    DOCUMENT FREQUENCY across the corpus exceeds ``max_df`` (nav bars,
    cookie banners, footers repeat across pages; real prose doesn't),
    then reassemble each document's surviving lines in order.

    Scale shape: one shuffle on the line digest for the df-count
    (uniform md5 keys), broadcast-friendly join back, one group-back
    per doc. Line order is preserved via posexplode + array_sort on
    (pos, line) structs — no window, no Python."""
    lines = (sdf.select(id_col, F.posexplode(F.split(F.col(text_col), "\n"))
                        .alias("pos", "line"))
             .withColumn("__h__", F.md5(F.trim(F.lower(F.col("line"))))))
    df_counts = (lines.filter(F.length(F.trim("line")) >= min_len)
                 .groupBy("__h__")
                 .agg(F.countDistinct(id_col).alias("line_df")))
    hot = df_counts.filter(F.col("line_df") > max_df).select("__h__")
    keep = lines.join(hot, "__h__", "left_anti")
    return (keep.groupBy(id_col)
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))),
                            lambda s: s["line"]),
                "\n").alias("text_clean"),
                F.count("*").alias("n_lines_kept")))


def temperature_sample(sdf, by: str, id_col: str, alpha: float = 0.7,
                       buckets: int = 1_000_000):
    """Materialize the temperature-flattened training mix (the step
    after ``temperature_weights``): with group shares flattened to
    q_g ∝ n_g^alpha, each group keeps rate_g = q_g·N'/n_g where
    N' = min_g(n_g/q_g) — the largest corpus realizing mixture q by
    pure downsampling (the smallest group keeps rate 1.0). Rows are
    kept iff md5-bucket(id) < floor(rate·buckets): deterministic, no
    RNG, reproducible across engines. O(groups) driver state, one
    broadcast join + one scan."""
    counts = sdf.groupBy(by).agg(F.count(F.lit(1)).alias("__n__"))
    z = counts.agg(
        F.sum(F.pow(F.col("__n__").cast("double"), F.lit(alpha))).alias("__Z__"))
    w = counts.join(F.broadcast(z)).withColumn(
        "__q__", F.pow(F.col("__n__").cast("double"), F.lit(alpha)) / F.col("__Z__"))
    np_ = w.agg(F.min(F.col("__n__") / F.col("__q__")).alias("__Np__"))
    rates = (w.join(F.broadcast(np_))
             .select(F.col(by),
                     F.least(F.col("__q__") * F.col("__Np__") / F.col("__n__"),
                             F.lit(1.0)).alias("__rate__")))
    bucket = (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                     16, 10).cast("bigint") % buckets)
    return (sdf.join(F.broadcast(rates), by)
            .filter(bucket < F.floor(F.col("__rate__") * buckets).cast("bigint"))
            .drop("__rate__"))


def shuffle_shards(sdf, id_col: str, seed: int = 0, n_shards: int = 64):
    """Deterministic sharded training-order shuffle: every row gets a
    ``(shard, shard_pos)`` placement derived only from ``(id, seed)``
    — randomizing training order over a huge corpus WITHOUT a global
    sort. ``shard`` = 48-bit md5 key mod ``n_shards`` spreads rows
    uniformly; within a shard rows order by the key with the id as
    tiebreak, so the permutation is total, RNG-free, and identical
    across engines and reruns (backfills land in the same place).

    Scale shape: the only shuffle is the window's hash partition on
    ``shard`` — size ``n_shards`` to ~2-3 tasks per executor. At rest,
    write with ``partitionBy("shard")`` and the training reader
    streams each shard in ``shard_pos`` order; epochs re-key with a
    new ``seed``."""
    key = F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))),
        1, 12), 16, 10).cast("bigint")
    from pyspark.sql import Window as W

    w = (W.partitionBy(F.col("__shard__"))
         .orderBy(F.col("__key__").asc(), F.col(id_col).asc()))
    return (sdf.withColumn("__key__", key)
            .withColumn("__shard__", (F.col("__key__") % n_shards).cast("int"))
            .withColumn("shard_pos", F.row_number().over(w).cast("bigint"))
            .withColumnRenamed("__shard__", "shard")
            .drop("__key__"))


def assign_splits(sdf, id_col: str, splits: dict[str, float] | None = None,
                  seed: int = 0, buckets: int = 1_000_000):
    """Deterministic train/val/test assignment: each id hashes to one
    of ``buckets`` md5 buckets; cumulative-fraction thresholds carve
    the bucket space into the named splits (insertion order). No RNG —
    the same id lands in the same split on every engine and rerun, and
    growing the corpus never moves an existing row between splits (the
    property random splits lose). Pure JVM scan, zero shuffle."""
    if splits is None:
        splits = {"train": 0.98, "val": 0.01, "test": 0.01}
    total = sum(splits.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))),
        1, 8), 16, 10).cast("bigint") % buckets)
    names = list(splits)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += splits[name]
        thr = int(cum * buckets + 0.5)
        cond = bucket < thr
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    label = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return sdf.withColumn("split", label)


def vocab_counts(sdf, text_col: str, min_count: int = 1):
    """Corpus vocabulary table (the input to BPE/unigram tokenizer
    training): normalized whitespace token → corpus frequency.
    explode → hash-aggregate with map-side partial combine — the
    wordcount shape, one uniform shuffle on the token."""
    tok = (sdf.select(F.explode(tokens(F.col(text_col))).alias("token"))
           .filter(F.col("token") != ""))
    out = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return out.filter(F.col("cnt") >= min_count) if min_count > 1 else out


def vocab_topk(sdf, text_col: str, k: int = 1000):
    """Top-``k`` vocabulary with frequency rank (the Zipf head).
    ``orderBy + limit`` compiles to TakeOrderedAndProject (per-partition
    top-k heaps + driver merge of k rows — no global sort); the rank
    window then runs over the k survivors only, which is fine because
    k is driver-bounded by contract."""
    from pyspark.sql import Window as W

    top = (vocab_counts(sdf, text_col)
           .orderBy(F.col("cnt").desc(), F.col("token").asc())
           .limit(k))
    w = W.orderBy(F.col("cnt").desc(), F.col("token").asc())
    return top.withColumn("vrank", F.row_number().over(w).cast("bigint"))


def ngram_counts(sdf, text_col: str, n: int = 2, min_count: int = 1):
    """Corpus n-gram frequency table (BPE-merge / collocation prep):
    adjacent normalized-token n-grams → corpus frequency. Same
    wordcount shape as ``vocab_counts`` — the explode widens rows
    ~(tokens-n+1)× but stays narrow (no shuffle until the count)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        return vocab_counts(sdf, text_col, min_count=min_count)
    toks = tokens(F.col(text_col))
    # an empty doc normalizes to [""] (size 1) and yields no n-gram
    # for n >= 2; real tokens are never empty (whitespace collapsed),
    # so no per-gram filter is needed
    sz = F.size(toks)
    if n == 2:
        # bigrams: zip two shifted slices — two array allocations per
        # DOC instead of a slice+join per GRAM (measured ~6x at sf0.1)
        pairs = F.zip_with(F.slice(toks, 1, sz - 1), F.slice(toks, 2, sz - 1),
                           lambda a, b: F.concat(a, F.lit(" "), b))
        grams = F.when(sz >= 2, pairs).otherwise(F.array().cast("array<string>"))
    else:
        # idx only evaluates inside the size>=n branch, where the upper
        # bound is >=1 (Spark's sequence(1, 0) would yield [1, 0], not
        # an empty array — the when() IS the short-doc guard)
        idx = F.sequence(F.lit(1), sz - (n - 1))
        grams = F.when(sz >= n,
                       F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
                       ).otherwise(F.array().cast("array<string>"))
    out = (sdf.select(F.explode(grams).alias("gram"))
           .filter(F.col("gram") != "")
           .groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")))
    return out.filter(F.col("cnt") >= min_count) if min_count > 1 else out
