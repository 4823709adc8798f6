"""Text analysis operators: stats, quality scoring, language ID, token
counting, fingerprinting. All pure column expressions (codegen-friendly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .exprs import let_

# Tiny built-in stopword sets for the n-gram/stopword language heuristic.
# Deliberately small + deterministic: the point is the distributed scoring
# machinery, not lexical coverage.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "des", "une", "que", "dans"],
    "es": ["el", "la", "los", "las", "y", "es", "no", "una", "que", "por"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}

_STOPWORDS_EN = set(_LANG_MARKERS["en"]) | {
    "it", "on", "as", "at", "by", "an", "be", "or", "are", "was", "this",
}

# BPE-ish token regex: words, numbers, or single non-space symbols —
# approximates subword pre-tokenization (GPT-2-style split).
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_count(text: Column | str, mode: str = "whitespace") -> Column:
    """Token count: 'whitespace' (split) or 'bpe' (regex pre-tokens)."""
    c = F.col(text) if isinstance(text, str) else text
    if mode == "whitespace":
        return F.size(F.split(F.trim(c), r"\s+"))
    if mode == "bpe":
        return F.size(F.regexp_extract_all(c, F.lit(_BPE_RE), 0))
    raise ValueError(f"unknown mode {mode}")


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document statistics: char/word/token counts, punctuation and
    stopword ratios, mean word length."""
    c = F.col(text_col)
    words = F.split(F.lower(F.trim(c)), r"\s+")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin(*sorted(_STOPWORDS_EN))))
    n_punct = n_chars_of(F.regexp_replace(c, r"[^\.,;:!\?'\"()\[\]-]", ""))
    return df.withColumns(
        {
            "n_chars_calc": n_chars_of(c),
            "n_words": n_words,
            "n_tokens_ws": token_count(c, "whitespace"),
            "n_tokens_bpe": token_count(c, "bpe"),
            "punct_ratio": F.round(n_punct / F.greatest(n_chars_of(c), F.lit(1)), 6),
            "stopword_ratio": F.round(n_stop / F.greatest(n_words, F.lit(1)), 6),
            "mean_word_len": F.round(
                (n_chars_of(F.regexp_replace(c, r"\s+", ""))) / F.greatest(n_words, F.lit(1)), 6
            ),
        }
    )


def n_chars_of(c: Column) -> Column:
    return F.length(c)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality in [0,1]: rewards moderate length,
    reasonable word lengths, presence of stopwords; punishes punctuation
    soup. A Gopher-rules-flavored composite, fully vectorized."""
    stats = text_stats(df, text_col)
    len_score = F.least(F.col("n_words") / F.lit(50.0), F.lit(1.0))
    word_len_ok = (
        (F.col("mean_word_len") >= 3) & (F.col("mean_word_len") <= 10)
    ).cast("double")
    stop_score = F.least(F.col("stopword_ratio") * 5.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("punct_ratio") * 5.0)
    # Rounding is the explicit IEEE formula floor(x*1e6 + 0.5)/1e6, not the
    # engine's round(): engine round modes disagree on near-tie doubles
    # (found at sf0.1 — one doc scored 0.8762625, Spark rounded down,
    # DuckDB up). The explicit form is the same IEEE ops in any engine, so
    # the cross-engine oracle stays bit-exact at every scale.
    raw = (len_score + word_len_ok + stop_score + punct_penalty) / 4.0
    return stats.withColumn(
        "quality_score", F.floor(raw * 1000000.0 + 0.5) / 1000000.0
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language heuristic: score each language by fraction of
    its marker words present; pick the argmax (ties → 'und').

    Implemented as a greatest-of-scores expression — one projection, no
    shuffle, no UDF."""
    c = F.lower(F.col(text_col))
    words = F.split(F.trim(c), r"\s+")
    scores = {
        lang: F.size(F.array_intersect(words, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in _LANG_MARKERS.items()
    }
    best = None
    for lang, score in scores.items():
        entry = F.struct(score.alias("s"), F.lit(lang).alias("l"))
        best = entry if best is None else F.when(score > best["s"], entry).otherwise(best)
    return df.withColumn(
        "lang_pred", F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und"))
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint"
) -> DataFrame:
    """Order-sensitive rolling document fingerprint: chained hash fold over
    word-token hashes — each step rehashes ``xxhash64(acc, token_hash)`` via
    ``aggregate``, so position matters (distinguishes permutations, unlike
    set-based MinHash) and no arithmetic can overflow int64 under ANSI mode
    (a polynomial ``acc*31+h`` would raise ARITHMETIC_OVERFLOW in the
    driver's ANSI-on session)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok_hashes = F.transform(words, lambda w: F.xxhash64(w))
    fp = F.aggregate(
        tok_hashes,
        F.lit(0).cast("long"),
        lambda acc, h: F.xxhash64(acc, h),
    )
    return df.withColumn(out_col, fp)


def tfidf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """(doc, term, tf, df, tfidf) — pure-DataFrame TF-IDF, no ML pipeline.

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (smoothed); one
    explode + two aggregations. At scale, ``min_df`` drops hapax noise and
    the doc-frequency table is broadcast back onto the postings.
    """
    terms = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    )
    tf = terms.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    n_docs = df.count()
    docfreq = (
        tf.groupBy("term")
        .agg(F.countDistinct("doc").alias("df"))
        .filter(F.col("df") >= min_df)
    )
    return (
        tf.join(F.broadcast(docfreq), "term")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ),
        )
        .select("doc", "term", "tf", "df", "tfidf")
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, per document:
    ``top_2gram_frac`` — fraction of word 2-grams occupied by the single
    most frequent 2-gram; ``dup_5gram_frac`` — fraction of word 5-grams
    that are duplicates of an earlier one. High values flag boilerplate /
    degenerate repetition. Pure array expressions, no explode, no shuffle.

    The token array is materialized once per row in its own projection
    (higher-order functions run interpreted, so an inlined split() would
    re-run the regex for every lambda element), and the top-gram count is
    the longest equal-run of the sorted gram array — one O(n log n) sort
    plus a linear fold instead of an O(distinct x n) filter scan."""
    tok_col = "__rep_toks"
    toks = F.col(tok_col)

    def grams(n: int):
        cnt = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))

    g2, g5 = grams(2), grams(5)
    # max multiplicity of any 2-gram == longest run of equal adjacent
    # elements after sorting (grams are never NULL, so NULL ordering is moot)
    run = F.aggregate(
        F.array_sort(g2),
        F.struct(
            F.lit(0).alias("best"),
            F.lit(0).alias("run"),
            F.lit(None).cast("string").alias("prev"),
        ),
        lambda acc, x: F.struct(
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            x.alias("prev"),
        ),
        lambda acc: acc["best"],
    )
    n_toks = F.size(toks)
    # A doc shorter than the gram size has NO n-grams: score 0, not the
    # degenerate whole-text gram (which would flag every 1-2 word doc as
    # maximally repetitive and have corpus filters drop it).
    return (
        df.withColumn(tok_col, F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        .withColumns(
            {
                "top_2gram_frac": F.when(n_toks < 2, F.lit(0.0)).otherwise(
                    F.round(run / F.greatest(F.size(g2), F.lit(1)), 6)
                ),
                "dup_5gram_frac": F.when(n_toks < 5, F.lit(0.0)).otherwise(
                    F.round(
                        1
                        - F.size(F.array_distinct(g5))
                        / F.greatest(F.size(g5), F.lit(1)),
                        6,
                    )
                ),
            }
        )
        .drop(tok_col)
    )


def ngram_counts(
    df: DataFrame,
    text_col: str = "text",
    n: int = 2,
    k: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide top-``k`` word n-grams by occurrence count (boilerplate /
    contamination analysis): (gram, n_occurrences, n_docs), count desc with
    the gram string as the deterministic tie-break.

    Scale shape: explode → one hash-agg (map-side partial combine does the
    heavy lifting on repeated grams) → global top-k via TakeOrdered (no full
    sort of the gram table). ``min_count`` prunes the long tail before the
    ordering at 100 TB."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # let-bind the token array: the per-gram slice must read a bound
    # lambda variable, not re-split the text per element (exprs.let_)
    gram_or_empty = let_(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    # Stamp the doc id BEFORE the explode: in the same projection as a
    # generator it would evaluate per exploded row (id per gram, not doc).
    ex = df.withColumn("__doc", F.monotonically_increasing_id()).select(
        "__doc",
        F.explode(gram_or_empty).alias("gram"),
    )
    counts = ex.groupBy("gram").agg(
        F.count("*").alias("n_occurrences"),
        F.count_distinct("__doc").alias("n_docs"),
    )
    if min_count > 1:
        counts = counts.filter(F.col("n_occurrences") >= min_count)
    return counts.orderBy(F.col("n_occurrences").desc(), "gram").limit(k)


def cross_doc_dup_ngram_frac(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document fraction of n-gram occurrences whose gram also appears
    in at least one OTHER document — the cross-document analogue of the
    Gopher duplicate-n-gram quality signal (repetition_stats covers the
    intra-document form). Docs shorter than ``n`` words score 0.

    Scale shape: one explode, one (gram, doc) pre-aggregation, one
    document-frequency aggregation filtered to shared grams BEFORE the
    join back (the df table shrinks to only grams with n_docs > 1 — at
    corpus scale that's the skew-safe side), then one per-doc rollup."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    # let-bound token array — same rationale as top_ngrams (exprs.let_)
    gram_or_empty = let_(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode(gram_or_empty).alias("gram"),
    )
    per_doc_gram = ex.groupBy("__id", "gram").agg(F.count("*").alias("occ"))
    shared = (
        per_doc_gram.groupBy("gram")
        .agg(F.count_distinct("__id").alias("ndocs"))
        .filter(F.col("ndocs") > 1)
        .select("gram")
    )
    dup = per_doc_gram.join(shared, "gram", "left_semi").groupBy("__id").agg(
        F.sum("occ").alias("dup_occ")
    )
    tot = per_doc_gram.groupBy("__id").agg(F.sum("occ").alias("tot_occ"))
    out = (
        tot.join(dup, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.round(
                F.coalesce(F.col("dup_occ"), F.lit(0)) / F.col("tot_occ"), 6
            ).alias("dup_ngram_frac"),
        )
    )
    # short docs have no grams → absent from `tot`; restore them at 0.0
    return (
        df.select(id_col)
        .join(out, id_col, "left")
        .select(
            id_col,
            F.coalesce("dup_ngram_frac", F.lit(0.0)).alias("dup_ngram_frac"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    embedding/RAG preprocessing step. Chunk starts advance by
    ``chunk_tokens - overlap``; a doc shorter than one chunk yields itself;
    the final chunk may be short (never empty). Output: (id, chunk_id,
    chunk_text, n_tokens), chunk_id 0-based in order.

    Pure projection + one posexplode — per-row array work, no shuffle, no
    UDF; embarrassingly parallel at corpus scale."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")

    # let-bound token array: the per-chunk slice reads a bound lambda
    # variable instead of re-splitting the text per chunk (exprs.let_)
    def _chunks(t: Column) -> Column:
        n = F.size(t)
        # number of chunks: 1 if n <= chunk else ceil((n-chunk)/stride)+1
        n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
            F.ceil((n - F.lit(chunk_tokens)) / F.lit(stride)).cast("int") + 1
        )
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.concat_ws(
                " ", F.slice(t, i * stride + 1, chunk_tokens)
            ),
        )

    chunks = let_(toks, _chunks)
    ex = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_text")
    )
    return ex.select(
        id_col,
        "chunk_id",
        "chunk_text",
        F.size(F.split(F.col("chunk_text"), r"\s+")).alias("n_tokens"),
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "tok",
    n_buckets: int = 1024,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Token-budget mixture sampling: per stratum, keep documents in a
    deterministic md5-priority order until the stratum's TOKEN budget is
    reached (``mixture_sample`` weights documents; training mixtures are
    specified in tokens). A doc is kept iff it STARTS within budget, so
    each stratum overshoots by at most one document. Strata without a
    budget entry are dropped.

    Scale shape: the per-stratum running token sum is computed with the
    two-pass bucketed prefix pattern (per-(stratum, bucket) sums → tiny
    cumulative table broadcast back → within-bucket windows in parallel),
    NOT a one-task-per-stratum global window — skew-safe when strata are
    few and huge.

    Token counting: whitespace tokens by default; pass ``n_tokens_col``
    to budget by a precomputed (e.g. BPE-tokenizer) count column instead
    — same sampling shape, exact training-token budgets."""
    from pyspark.sql.window import Window

    if n_tokens_col is not None:
        toks = F.col(n_tokens_col).cast("long")
    else:
        toks = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    prio = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    bucket_width = (1 << 32) // n_buckets
    d = df.withColumn("__tok", toks).withColumn("__prio", prio).withColumn(
        "__b", F.floor(F.col("__prio") / F.lit(bucket_width))
    )
    bsum = d.groupBy(stratum_col, "__b").agg(F.sum("__tok").alias("__bsum"))
    wb = (
        Window.partitionBy(stratum_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bprev = bsum.withColumn(
        "__prev", F.coalesce(F.sum("__bsum").over(wb), F.lit(0))
    ).select(stratum_col, "__b", "__prev")
    wr = (
        Window.partitionBy(stratum_col, "__b")
        .orderBy("__prio", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.lit(None).cast("long")
    for name, b in budgets.items():
        budget = F.when(F.col(stratum_col) == name, F.lit(int(b))).otherwise(budget)
    return (
        d.join(F.broadcast(bprev), [stratum_col, "__b"], "left")
        .withColumn(
            "__cum_before",
            F.col("__prev") + F.coalesce(F.sum("__tok").over(wr), F.lit(0)),
        )
        .filter(budget.isNotNull() & (F.col("__cum_before") < budget))
        .drop("__prio", "__b", "__prev", "__cum_before")
        .withColumnRenamed("__tok", "tokens")
    )


def _grouped_topk(
    df: DataFrame,
    group_col: str,
    key,
    k: int,
    merge_fanin: int = 1024,
) -> DataFrame:
    """BOUNDED per-group top-k: returns ``(group_col, __tk)`` where
    ``__tk`` is the array of the ``k`` smallest ``key`` structs in the
    group (struct field order defines the sort). Shared merge tree for
    :func:`stratified_sample` and
    :func:`weighted_reservoir_sample_grouped`.

    Phase 1 takes a local top-k per (group, input partition); the merge
    then folds those per-partition arrays in a TREE keyed by
    ``__pid div merge_fanin`` per level, so NO merge aggregation buffer
    ever flattens more than ``merge_fanin`` arrays — i.e. ≤
    ``merge_fanin × k`` structs — regardless of the input partition
    count P (⌈log_fanin P⌉ levels; a flat single-level merge buffers
    P×k structs per group, a driver-visible OOM when a hot stratum
    spans 10⁵+ map partitions with a curation-sized k). The fold key is
    integer DIVISION of the partition id, not a hash mod: ``div`` caps
    the arrays landing in one bucket at exactly ``merge_fanin``, while
    ``pmod(hash(pid), M)`` caps the bucket COUNT but lets per-bucket
    occupancy grow as P/M — unbounded again at scale.

    Honest bound for phase 1: ``collect_list`` cannot truncate its
    partial aggregation buffer, so the buffer for one (group,
    partition) cell holds ALL that cell's key structs until the slice
    runs final-side. The structs are tens of bytes against full input
    rows, so the buffer stays far smaller than the scan split that
    produced it (MBs under default ``maxPartitionBytes``) — but feed
    this operator scan-sized partitions: repartition first if upstream
    produced multi-GB partitions.

    The partition count is read from the compiled plan (no job); AQE
    can only coalesce (never grow) map partitions for a scan input, so
    the count is an upper bound and the per-level cap holds.
    """
    if merge_fanin < 2:
        raise ValueError("merge_fanin must be >= 2")
    local = (
        df.withColumn("__k", key)
        .withColumn("__pid", F.spark_partition_id().cast("long"))
        .groupBy(group_col, "__pid")
        .agg(F.slice(F.array_sort(F.collect_list("__k")), 1, k).alias("__tk"))
    )
    remaining = max(int(df.rdd.getNumPartitions()), 1)
    cur = local
    while remaining > merge_fanin:
        cur = (
            cur.withColumn("__pid", F.expr(f"__pid div {int(merge_fanin)}"))
            .groupBy(group_col, "__pid")
            .agg(
                F.slice(
                    F.array_sort(F.flatten(F.collect_list("__tk"))), 1, k
                ).alias("__tk")
            )
        )
        remaining = -(-remaining // merge_fanin)
    return cur.groupBy(group_col).agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__tk"))), 1, k).alias(
            "__tk"
        )
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "strat",
    merge_fanin: int = 1024,
) -> DataFrame:
    """Deterministic per-group sample: the ``k`` docs per ``group_col``
    value with the smallest md5 priority (salted hash of the id) — the
    reproducible analogue of per-stratum uniform sampling used to build
    eval slices and data-mixture previews.

    Scale shape: two-phase top-k aggregation with a BOUNDED merge tree
    (map-side local top-k → ``__pid div merge_fanin`` fold levels →
    per-group merge; no merge buffer ever exceeds ``merge_fanin × k``
    structs at ANY input partition count — see :func:`_grouped_topk`),
    NOT a window row_number, so no group ever lands in one reducer
    whole. Output: input columns + ``sample_rank`` (1-based)."""
    prio = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    key = F.struct(prio.alias("p"), F.col(id_col).alias("i"))
    packed = _grouped_topk(df, group_col, key, k, merge_fanin)
    winners = packed.select(
        group_col, F.posexplode("__tk").alias("__r0", "__w")
    ).select(
        group_col,
        F.col("__w.i").alias(id_col),
        (F.col("__r0") + 1).alias("sample_rank"),
    )
    return winners.join(df, [group_col, id_col]).select(
        *df.columns, "sample_rank"
    )


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text normalization for dedup/fingerprint pre-passes:
    lowercase → non-alphanumerics to spaces → collapse whitespace → trim.
    Pure column expressions (RE2/Java-compatible patterns, so SQL oracles
    replay them exactly); adds before/after char counts."""
    lowered = F.lower(F.col(text_col))
    cleaned = F.regexp_replace(lowered, r"[^a-z0-9\s]", " ")
    collapsed = F.trim(F.regexp_replace(cleaned, r"\s+", " "))
    return (
        df.withColumn("n_chars_raw", F.length(F.col(text_col)))
        .withColumn(out_col, collapsed)
        .withColumn("n_chars_norm", F.length(F.col(out_col)))
    )


# Redaction patterns applied in order; SSN before the generic phone shape so
# the broader digit-run pattern cannot eat it first. RE2/Java-compatible
# (no backreferences/lookaround), so oracles replay them exactly.
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
]


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Scrub common PII shapes (emails, SSN-style ids, phone-like digit
    runs) from a text column — a standard pretraining-corpus cleaning
    pass. One projection of chained ``regexp_replace``; no UDF."""
    c: Column = F.col(text_col)
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col or text_col, c)


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_weight: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-stratum subsampling for training-data mixing:
    keep a row iff ``bucket(id) < weight(stratum) * 10000`` where the
    bucket is the first 8 hex digits of ``md5(salt || id)`` mod 10000.

    Properties that matter at scale: a pure filter (no shuffle, no seed
    state — pushes into the scan), reproducible across engines and runs
    (md5 is everywhere; no RNG partitioning sensitivity), and monotone in
    the weight (raising a stratum's weight only ADDS documents — stable
    mixtures across config changes)."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10000),
    )
    w: Column = F.lit(float(default_weight))
    for stratum, weight in sorted(weights.items()):
        w = F.when(F.col(stratum_col) == stratum, F.lit(float(weight))).otherwise(w)
    return df.filter(bucket < w * 10000)


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str,
    bucket_size: int = 8192,
    bucket_col: str | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Exclusive running sum of ``value_col`` in ``order_col`` order,
    computed distributed: per-bucket sums (tiny agg) get an exclusive
    cumulative sum on the bucket list, broadcast back; each bucket then
    windows internally in parallel. No no-partition global window — the
    same two-pass prefix pattern as ``streaming.ops.drop_late_events``.

    Default bucketing (``floor(order/bucket_size)``) assumes DENSE
    numeric order values; for sparse keys (e.g. hash-valued orders,
    where value-range buckets would hold ~1 row each and the bucket
    table would be row-count-sized) pass a precomputed ``bucket_col``
    that is MONOTONE in ``order_col`` with a bounded distinct count
    (e.g. the hash's top bits). ``tiebreak_col`` pins within-bucket
    order when ``order_col`` is not unique (hash collisions) — without
    it, ties make the prefix nondeterministic."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    if not isinstance(df.schema[order_col].dataType, T.NumericType):
        raise TypeError(
            f"exclusive_prefix_sum needs a numeric order column; "
            f"{order_col!r} is {df.schema[order_col].dataType.simpleString()} "
            "(derive a numeric rank first)"
        )
    if bucket_col is not None:
        df2 = df.withColumn("__b", F.col(bucket_col))
    else:
        df2 = df.withColumn(
            "__b", F.floor(F.col(order_col) / F.lit(bucket_size))
        )
    # Both passes (bucket sums; join + within-bucket window) scan df2 —
    # a lazy local checkpoint makes them share ONE evaluation of the
    # upstream lineage (for d31 that lineage is the BPE tokenization of
    # the corpus: ~11 s recomputed at sf0.1 without this). The
    # materialized relation is the caller's narrow (order, value[, ...])
    # projection, rows × a few longs.
    df2 = df2.localCheckpoint(eager=False)
    bsum = df2.groupBy("__b").agg(F.sum(value_col).alias("__bsum"))
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    bprev = bsum.withColumn(
        "__prev", F.coalesce(F.sum("__bsum").over(wb), F.lit(0))
    ).select("__b", "__prev")
    order_keys = [order_col] + ([tiebreak_col] if tiebreak_col else [])
    wr = (
        Window.partitionBy("__b")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # Left join + coalesce: a NULL order value yields a NULL bucket, which
    # an inner join would silently drop; NULL-ordered rows instead form
    # their own nulls-first group with a locally consistent prefix.
    return (
        df2.join(F.broadcast(bprev), "__b", "left")
        .withColumn(
            out_col,
            F.coalesce(F.sum(value_col).over(wr), F.lit(0))
            + F.coalesce(F.col("__prev"), F.lit(0)),
        )
        .drop("__b", "__prev")
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 2048,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Sequence packing for training pipelines: assign documents (in id
    order) to fixed token-budget chunks by exclusive prefix token count —
    ``chunk_id = floor(tokens_before_doc / budget)``, the deterministic
    closed-form variant of greedy concat-then-cut packing (documents may
    straddle a boundary; the cut is the tokenizer's job downstream).

    Returns one row per chunk: (chunk_id, n_docs, total_tokens, first_doc,
    last_doc). Fully distributed — the prefix sum never funnels rows
    through a single-task window. Pass ``n_tokens_col`` to pack by REAL
    tokenizer counts (e.g. ``size(bpe_tokens)`` from
    ``bpe_apply_indexed``) instead of the whitespace stand-in — the
    same measure upgrade as ``sequence_pack``'s d31 path."""
    if n_tokens_col is not None:
        ntok = F.col(n_tokens_col).cast("long")
    else:
        ntok = token_count(text_col, "whitespace")
    # Narrow to (id, count) BEFORE the prefix: exclusive_prefix_sum
    # materializes its input (lazy local checkpoint) and the chunk
    # summary needs nothing else — carrying text would persist the
    # corpus payload instead of two longs per doc.
    d = df.select(F.col(id_col), ntok.alias("__ntok"))
    d = exclusive_prefix_sum(d, id_col, "__ntok", "__off")
    return (
        d.withColumn("chunk_id", F.floor(F.col("__off") / F.lit(budget)))
        .groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ntok").alias("total_tokens"),
            F.min(id_col).alias("first_doc"),
            F.max(id_col).alias("last_doc"),
        )
    )


def filter_corpus(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 10,
    max_words: int | None = None,
    min_quality: float = 0.0,
    langs: list[str] | None = None,
    dedup_exact: bool = False,
    id_col: str = "doc_id",
) -> DataFrame:
    """Composable training-corpus filter: length bounds + quality floor +
    language allowlist (+ optional exact-content dedup). The canonical
    pretraining-data cleaning pipeline as one declarative plan — all
    predicates fuse into a single scan; dedup adds one shuffle."""
    out = quality_score(df, text_col)
    out = out.filter(F.col("n_words") >= min_words)
    if max_words is not None:
        out = out.filter(F.col("n_words") <= max_words)
    if min_quality > 0:
        out = out.filter(F.col("quality_score") >= min_quality)
    if langs:
        out = language_id(out, text_col).filter(F.col("lang_pred").isin(langs))
    if dedup_exact:
        from basis_devkit_spark.operators.dedup import exact_dedup

        out = exact_dedup(
            out.withColumn("__h", F.md5(F.col(text_col))), ["__h"],
            order_by=id_col, unique_order=True,
        ).drop("__h")
    return out


def train_val_test_split(
    df: DataFrame,
    fractions: tuple[float, float, float] = (0.98, 0.01, 0.01),
    id_col: str = "doc_id",
    out_col: str = "split",
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment for training corpora: each
    row gets a ``split`` label from the first 8 hex digits of
    ``md5(salt || id)`` mod 10000 against cumulative fraction cutoffs.

    Same scale properties as ``mixture_sample``: a pure per-row projection
    (no shuffle, no RNG state, engine-reproducible), and *stable under
    re-splitting* — growing the val fraction only moves docs train→val,
    never reshuffles existing val/test membership (cutoffs are cumulative
    over a fixed hash)."""
    tr, va, te = (float(x) for x in fractions)
    if abs(tr + va + te - 1.0) > 1e-9:
        raise ValueError("fractions must sum to 1")
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(10000),
    )
    label = (
        F.when(bucket < int(round(tr * 10000)), F.lit("train"))
        .when(bucket < int(round((tr + va) * 10000)), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn(out_col, label)


def drop_repeated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_occurrences: int = 1,
    sep: str = "\n",
) -> DataFrame:
    """C4-style corpus-level line dedup (Raffel et al. 2020 §2.2 removed
    any three-sentence span occurring more than once): drop every line
    that occurs more than ``max_occurrences`` times across the corpus
    (boilerplate, footers, cookie banners), reassemble each document's
    surviving lines in their original order. Documents whose lines are
    all dropped keep an empty string.

    Scale shape: posexplode → one hash agg to find the (small) repeated
    set → anti-join lines against it (AQE broadcasts the repeated set
    when it fits) → per-doc re-pack via sort-free collect_list +
    array_sort. Only the repeated-line table is corpus-wide state."""
    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("__pos", "__line"),
    )
    repeated = (
        lines.groupBy("__line")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_occurrences)
        .select("__line")
    )
    kept = lines.join(repeated, "__line", "left_anti")
    packed = kept.groupBy("__id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s.getField("__line"),
            ),
        ).alias("__text")
    )
    return df.join(
        packed, F.col(id_col) == F.col("__id"), "left"
    ).select(
        *[c for c in df.columns if c != text_col],
        F.coalesce(F.col("__text"), F.lit("")).alias(text_col),
    )


def quality_weighted_sample(
    df: DataFrame,
    quality_col: str = "quality_score",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    salt: str = "qws",
) -> DataFrame:
    """Quality-weighted importance sampling — the GPT-3-style retention
    rule (documents kept with probability ≈ quality^alpha, so higher
    ``alpha`` skews the kept set harder toward high quality): keep a row
    iff ``md5-uniform(id) < quality^alpha``. Same scale properties as
    ``mixture_sample``: a pure deterministic filter (no RNG state, no
    shuffle, pushes toward the scan), reproducible across engines, and
    monotone in quality — raising a doc's score can only help it."""
    u = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(10000),
        )
        / F.lit(10000.0)
    )
    return df.filter(u < F.pow(F.col(quality_col), F.lit(float(alpha))))


def corpus_drift(
    a: DataFrame,
    b: DataFrame,
    strat_col: str = "lang",
) -> DataFrame:
    """Distribution drift between two corpus snapshots — the
    dataset-versioning monitor: per-stratum counts and fractions in each
    snapshot plus the absolute fraction shift. Total variation distance is
    ``sum(abs_diff) / 2`` over the result. Missing strata count as 0.

    Scale shape: one hash agg per side (partial-combining), totals ride a
    broadcast single-row crossJoin (never a window over the whole table),
    full-outer merge on the (small) stratum key set."""
    def side(df: DataFrame, tag: str) -> DataFrame:
        g = df.groupBy(F.col(strat_col).alias("stratum")).agg(
            F.count(F.lit(1)).alias(f"n_{tag}")
        )
        tot = df.agg(F.count(F.lit(1)).alias(f"__tot_{tag}"))
        return g.crossJoin(F.broadcast(tot))

    from pyspark.sql.window import Window

    ga, gb = side(a, "a"), side(b, "b")
    m = ga.join(gb, "stratum", "full_outer")
    n_a = F.coalesce(F.col("n_a"), F.lit(0))
    n_b = F.coalesce(F.col("n_b"), F.lit(0))
    # a missing side's total is still needed: take the max over the merged
    # frame (it is a constant column where present)
    tot_a = F.coalesce(F.col("__tot_a"), F.max("__tot_a").over(Window.partitionBy()))
    tot_b = F.coalesce(F.col("__tot_b"), F.max("__tot_b").over(Window.partitionBy()))
    frac_a = F.round(n_a / tot_a, 6)
    frac_b = F.round(n_b / tot_b, 6)
    return m.select(
        "stratum",
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        frac_a.alias("frac_a"),
        frac_b.alias("frac_b"),
        F.round(F.abs(frac_a - frac_b), 6).alias("abs_diff"),
    )


# The Gopher quality-rule repertoire (Rae et al. 2021, "Scaling Language
# Models: ...Gopher", §A1.1 — public paper). Each rule is a named boolean
# column so downstream pipelines can keep, drop, or audit per rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    stopwords: list[str] | None = None,
    min_stopwords: int = 2,
) -> DataFrame:
    """Per-document Gopher quality rules, each as a boolean flag plus the
    conjunction ``passes_gopher``:

    - ``ok_word_count``: word count in [min_words, max_words]
    - ``ok_mean_word_len``: mean word length in [3, 10]
    - ``ok_symbol_ratio``: ('#' + '...') occurrences / words <= 0.1
    - ``ok_bullet_lines``: <= 90% of lines start with a bullet
    - ``ok_ellipsis_lines``: <= 30% of lines end with '...'
    - ``ok_alpha_words``: >= 80% of words contain an alphabetic char
    - ``ok_stopwords``: contains >= ``min_stopwords`` distinct required
      stop words (default list = the paper's; pass a corpus-appropriate
      list for non-English-prose corpora)

    All pure column expressions (split + HOFs) — one projection, no
    shuffle, no UDF; patterns are RE2/Java-compatible so SQL oracles
    replay them exactly. At 100 TB this fuses into the scan like any
    other filter stage.
    """
    c = F.col(text_col)
    words = F.split(F.trim(c), r"\s+")
    n_words = F.greatest(F.size(words), F.lit(1))
    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = (
        F.floor(word_chars / n_words * 1000000.0 + 0.5) / 1000000.0
    )
    n_hash = F.length(c) - F.length(F.regexp_replace(c, r"#", ""))
    n_ellipsis = (
        F.length(c) - F.length(F.regexp_replace(c, r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis) / n_words
    lines = F.split(c, r"\n")
    n_lines = F.greatest(F.size(lines), F.lit(1))
    bullet_frac = (
        F.size(
            F.filter(
                lines,
                lambda l: l.startswith("- ")
                | l.startswith("* ")
                | l.startswith("•"),
            )
        )
        / n_lines
    )
    ellipsis_frac = F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines
    alpha_frac = (
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words
    )
    lower_words = F.transform(words, F.lower)
    stop_count = sum(
        F.array_contains(lower_words, w).cast("int")
        for w in (stopwords if stopwords is not None else GOPHER_STOPWORDS)
    )
    flags = {
        "n_words": F.size(words),
        "mean_word_len": mean_wl,
        "ok_word_count": F.size(words).between(min_words, max_words),
        "ok_mean_word_len": mean_wl.between(3.0, 10.0),
        "ok_symbol_ratio": symbol_ratio <= 0.1,
        "ok_bullet_lines": bullet_frac <= 0.9,
        "ok_ellipsis_lines": ellipsis_frac <= 0.3,
        "ok_alpha_words": alpha_frac >= 0.8,
        "ok_stopwords": stop_count >= min_stopwords,
    }
    out = df.withColumns(flags)
    passes = None
    for name in flags:
        if name.startswith("ok_"):
            col = F.col(name)
            passes = col if passes is None else (passes & col)
    return out.withColumn("passes_gopher", passes)


def weighted_reservoir_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "ares",
) -> DataFrame:
    """Exact-size weighted sampling without replacement — the
    Efraimidis–Spirakis A-Res scheme (public algorithm): each row gets
    key ``u^(1/w)`` for a deterministic md5-uniform ``u`` in (0,1]; the
    k largest keys are the sample. Inclusion probability is
    proportional-to-weight at each draw; the whole thing is one
    projection + a TakeOrdered top-k — no shuffle-sort, no RNG state,
    reproducible across engines and runs.

    Complements :func:`quality_weighted_sample` (Bernoulli thinning with
    an EXPECTED rate): A-Res returns an EXACT k.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / 4294967296.0  # (0, 1]
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1e-12))
    key = F.pow(u, 1.0 / w)
    # explicit IEEE rounding (repo convention): engine round() modes
    # disagree on near-tie doubles, the floor form never does
    key12 = F.floor(key * 1.0e12 + 0.5) / 1.0e12
    return (
        df.withColumn("__ares", key12)
        .orderBy(F.col("__ares").desc(), F.col(id_col))
        .limit(k)
        .drop("__ares")
    )


#: Unicode scripts profiled by :func:`script_profile` — Spark (Java
#: regex) spells a script \p{IsX}, DuckDB (RE2) \p{X}; the CLASSES are
#: the same Unicode property, so counts agree exactly (probed).
SCRIPT_CLASSES: list[tuple[str, str, str]] = [
    ("latin", r"\p{IsLatin}", r"\p{Latin}"),
    ("cyrillic", r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    ("han", r"\p{IsHan}", r"\p{Han}"),
    ("arabic", r"\p{IsArabic}", r"\p{Arabic}"),
    ("digit", "[0-9]", "[0-9]"),
    ("space", r"\s", r"\s"),
]


def script_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Unicode-SCRIPT character profile: total char count
    plus the fraction of characters in each of Latin / Cyrillic / Han /
    Arabic / digit / whitespace — the cheap language-ID prefilter and
    mojibake/garbage detector every multilingual crawl pipeline runs
    before the trained classifier (a doc that is 40% Han and 40% Latin
    is mixed-script; one that is mostly neither any script nor space is
    binary junk). Pure ``regexp_count`` column expressions — one
    projection, fuses into the scan, no shuffle, no UDF; fractions are
    ``floor(x·10⁶+0.5)/10⁶`` with integer numerators (identical double
    both engines). Zero-length/null docs report 0.0 everywhere."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(c)
    cols = [F.col(id_col), n.cast("long").alias("n_chars")]
    for name, jpat, _ in SCRIPT_CLASSES:
        cnt = F.regexp_count(c, F.lit(jpat))
        cols.append(
            F.when(
                n > 0,
                F.floor(
                    cnt.cast("double") / n.cast("double") * 1000000.0 + 0.5
                )
                / 1000000.0,
            )
            .otherwise(F.lit(0.0))
            .alias(f"frac_{name}")
        )
    return df.select(*cols)


def weighted_reservoir_sample_grouped(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "ares",
    merge_fanin: int = 1024,
) -> DataFrame:
    """STRATIFIED exact-size weighted sampling: A-Res
    (Efraimidis–Spirakis) independently within every ``group_col``
    stratum — exactly ``min(k, |stratum|)`` rows per group, inclusion
    proportional-to-weight within the group. Completes the sampling
    family: :func:`weighted_reservoir_sample` is global-weighted,
    ``stratified_sample`` is per-group-uniform; corpus curation wants
    this one ("top-quality k per source, quality-weighted, exact
    count").

    Same deterministic key as the global form (md5-uniform u, key =
    u^(1/w), floor-rounded at 1e12), but per-group top-k via the
    BOUNDED two-phase aggregation tree (:func:`_grouped_topk`): local
    top-k per (group, input partition), then ``__pid div merge_fanin``
    fold levels, so no merge aggregation buffer ever exceeds
    ``merge_fanin × k`` structs regardless of how many map partitions
    a hot stratum spans — never a Window row_number, whose plan
    funnels every row of a stratum through one reducer task (the
    scale-killer when one source dominates a 100 TB corpus). The id
    keeps its ORIGINAL type (any orderable type ties deterministically;
    string UUID ids survive intact). Returns ``(group, id, weight,
    rank)``; rank 1 = largest key."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        + 1.0
    ) / 4294967296.0  # (0, 1]
    w = F.greatest(F.col(weight_col).cast("double"), F.lit(1e-12))
    key12 = F.floor(F.pow(u, 1.0 / w) * 1.0e12 + 0.5) / 1.0e12
    skey = F.struct(
        (-key12).alias("nk"), F.col(id_col).alias("i"),
        F.col(weight_col).cast("double").alias("w"),
    )
    merged = _grouped_topk(df, group_col, skey, k, merge_fanin)
    ex = merged.select(group_col, F.posexplode("__tk").alias("__r0", "__s"))
    return ex.select(
        group_col,
        F.col("__s.i").alias(id_col),
        F.col("__s.w").alias(weight_col),
        (F.col("__r0") + 1).cast("int").alias("rank"),
    )


def profile_numeric(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Data-quality profile of the numeric columns: one output row per
    column with null count, exact distinct count, min, max, and a
    decimal-exact sum — the standard table-health snapshot (dbt-style
    profiling / DESCRIBE EXTENDED numerics). One pass per column pair
    of aggregates, unioned; no collects.
    """
    import pyspark.sql.types as T

    numeric = [
        f.name
        for f in df.schema.fields
        if isinstance(
            f.dataType,
            (T.IntegerType, T.LongType, T.DoubleType, T.FloatType, T.DecimalType,
             T.ShortType, T.ByteType),
        )
    ]
    cols = [c for c in (columns or numeric) if c in numeric]
    if not cols:
        raise ValueError("no numeric columns to profile")
    out: DataFrame | None = None
    for c in cols:
        row = df.agg(
            F.lit(c).alias("column"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_nulls"),
            F.countDistinct(F.col(c)).alias("n_distinct"),
            F.min(F.col(c)).cast("double").alias("min_v"),
            F.max(F.col(c)).cast("double").alias("max_v"),
            F.sum(F.col(c).cast("decimal(27,6)")).cast("double").alias("sum_v"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def sequence_pack(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_size: int = 8192,
    n_tokens_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing for LLM training: documents are
    laid out into one global token stream in deterministic ``id_col``
    order and chunked into fixed training sequences of ``budget`` tokens
    (the GPT-style packing where a document may straddle a sequence
    boundary). Returns ``(id, n_tokens, seq_id, seq_offset)``: the
    sequence a document STARTS in and its token offset within it —
    exactly what a pack-and-shard writer needs to place every document.
    The per-CHUNK summary view of the same layout is
    :func:`pack_sequences`.

    Scale shape: the global running token sum is
    :func:`exclusive_prefix_sum` — the two-pass bucketed prefix pattern
    (per-id-range-bucket sums → running offsets over the tiny non-empty
    bucket table → within-bucket windows in parallel), never a one-task
    global window over the documents; ``id_col`` must be numeric.

    Token counting: by default whitespace tokens of ``text_col``; real
    pretraining packs by TOKENIZER counts, so pass ``n_tokens_col`` to
    use a precomputed per-doc count column (cast to long) — e.g. a BPE
    tokenizer stage's output — without changing the prefix-sum shape
    (the packing layout is a pure function of the counts).
    """
    if n_tokens_col is not None:
        ntok = F.col(n_tokens_col).cast("long")
    else:
        ntok = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    d = df.select(F.col(id_col), ntok.alias("n_tokens"))
    d = exclusive_prefix_sum(d, id_col, "n_tokens", "__cum_before", bucket_size)
    return d.select(
        id_col,
        "n_tokens",
        F.floor(F.col("__cum_before") / budget).cast("long").alias("seq_id"),
        F.pmod(F.col("__cum_before"), F.lit(budget)).cast("long").alias(
            "seq_offset"
        ),
    )


def sequence_pack_shuffled(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    salt: int = 42,
) -> DataFrame:
    """:func:`sequence_pack` in DETERMINISTIC SHUFFLED order — the
    training practice id-order packing misses: adjacent ids are usually
    corpus-correlated (same crawl host, same source shard), so packing
    in id order puts correlated documents in the same training sequence;
    shuffling the layout order decorrelates sequences while staying
    fully reproducible (re-running the pack for a resume or an audit
    yields the identical layout — no RNG state to persist).

    Order key = ``xxhash64(id, salt)`` with the id itself as the
    collision tie-break (hash ties are certain at trillion-row scale —
    ~n²/2⁶⁵ birthday rate — and an untied window order would make the
    layout nondeterministic exactly there). Buckets for the two-pass
    prefix come from the hash's top 12 bits (4,096 buckets): value-range
    bucketing would put ~1 row per bucket under a uniform hash and blow
    the bucket table up to row count. Same output contract as
    :func:`sequence_pack`: ``(id, n_tokens, seq_id, seq_offset)``."""
    if n_tokens_col is not None:
        ntok = F.col(n_tokens_col).cast("long")
    else:
        ntok = F.size(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    d = df.select(
        F.col(id_col),
        ntok.alias("n_tokens"),
        F.xxhash64(F.col(id_col), F.lit(int(salt)).cast("long")).alias(
            "__h"
        ),
    ).withColumn("__hb", F.shiftright(F.col("__h"), 52))
    d = exclusive_prefix_sum(
        d, "__h", "n_tokens", "__cum_before",
        bucket_col="__hb", tiebreak_col=id_col,
    )
    return d.select(
        id_col,
        "n_tokens",
        F.floor(F.col("__cum_before") / budget).cast("long").alias("seq_id"),
        F.pmod(F.col("__cum_before"), F.lit(budget)).cast("long").alias(
            "seq_offset"
        ),
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document repetition signals — the Gopher repetition rules
    (Rae et al. 2021 §A1.1, public paper) the flag set in
    :func:`gopher_rules` doesn't cover; boilerplate-heavy and
    degenerate-generation documents score high here while passing
    simple length/symbol gates:

    - ``dup_line_fraction``: duplicate line occurrences / total lines
      (a line's 2nd..nth occurrences are duplicates)
    - ``dup_line_char_fraction``: characters inside those duplicate
      occurrences / total line characters
    - ``top_bigram_count``: occurrences of the document's most frequent
      word bigram (ties → lexicographically smallest bigram)
    - ``top_bigram_fraction``: that count / total bigram count

    Line signals are pure per-row HOF expressions (no shuffle). The
    bigram signals explode to ``(doc, gram)`` → one hash agg → a
    struct-min argmax per doc → join back: two map-side-combinable
    shuffles, no window, no per-doc quadratic work — the explode path
    scales to book-length documents where a within-array O(n²) count
    would not. Fractions are ``floor(x·10⁶+0.5)/10⁶`` with integer
    numerators, so both engines compute the identical double. Docs with
    no bigrams report count 0, fraction 0.0."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.filter(F.split(c, r"\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    line_chars = F.aggregate(
        F.transform(lines, lambda l: F.length(l)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # chars in duplicate occurrences = total chars − chars of one copy
    # of each distinct line
    dist_chars = F.aggregate(
        F.transform(F.array_distinct(lines), lambda l: F.length(l)),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    r6 = lambda num, den: F.when(
        den > 0, F.floor(num / den * 1000000.0 + 0.5) / 1000000.0
    ).otherwise(F.lit(0.0))
    base = df.select(
        F.col(id_col),
        r6((n_lines - n_dist).cast("double"), n_lines.cast("double")).alias(
            "dup_line_fraction"
        ),
        r6(
            (line_chars - dist_chars).cast("double"),
            line_chars.cast("double"),
        ).alias("dup_line_char_fraction"),
    )
    words = F.filter(
        F.split(F.lower(F.trim(c)), r"\s+"), lambda w: w != ""
    )
    grams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    ex = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    counts = ex.groupBy(id_col, "__g").agg(
        F.count(F.lit(1)).cast("long").alias("__c")
    )
    top = counts.groupBy(id_col).agg(
        F.min(F.struct((-F.col("__c")).alias("nc"), F.col("__g"))).alias(
            "__t"
        ),
        F.sum("__c").alias("__n"),
    ).select(
        id_col,
        (-F.col("__t.nc")).cast("long").alias("top_bigram_count"),
        r6(
            (-F.col("__t.nc")).cast("double"), F.col("__n").cast("double")
        ).alias("top_bigram_fraction"),
    )
    return (
        base.join(top, id_col, "left")
        .withColumn(
            "top_bigram_count",
            F.coalesce("top_bigram_count", F.lit(0).cast("long")),
        )
        .withColumn(
            "top_bigram_fraction", F.coalesce("top_bigram_fraction", F.lit(0.0))
        )
    )


def sequence_pack_append(
    new_docs: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_tokens_col: str | None = None,
    cursor_tokens: int = 0,
) -> DataFrame:
    """Incremental :func:`sequence_pack` for APPEND-ONLY corpora: lay
    out ONLY the new batch, continuing the global token stream from
    ``cursor_tokens`` (the total token count already packed). Every
    other ``sequence_pack*`` form is a global prefix — any new crawl
    batch forces a full repack; this closes the streaming story for the
    last batch-only pretrain stage: per batch, one batch-sized prefix
    (the same two-pass bucketed pattern, over batch rows only) plus a
    constant added in, and the emitted ``(id, n_tokens, seq_id,
    seq_offset)`` rows are BYTE-IDENTICAL to what a one-shot pack of
    the concatenated corpus (prior docs first, then this batch in
    ``id_col`` order) assigns these docs — seq ids and offsets are pure
    functions of the absolute cumulative count, so packed history never
    needs rewriting and never needs re-reading.

    The cursor after this batch is ``cursor_tokens + sum(n_tokens)``;
    :func:`sequence_pack_state` derives the persistable one-row state
    relation from this function's output. 100 TB: cost per batch is
    batch-sized, not corpus-sized — the whole point.

    ORDER CONTRACT: the parity claim is against the ARRIVAL-order
    concatenation. Within a batch docs are laid out in ``id_col``
    order, but batches are packed in the order they arrive — a batch
    carrying smaller ids than already-packed history still packs AFTER
    it (deterministically: replaying the same batch sequence yields
    the same layout). Global-id-order parity therefore requires the
    batches themselves to arrive in id order; out-of-order arrival is
    a different — still deterministic, still valid — layout, not a
    corruption."""
    if n_tokens_col is not None:
        ntok = F.col(n_tokens_col).cast("long")
    else:
        ntok = F.size(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        ).cast("long")
    d = new_docs.select(F.col(id_col), ntok.alias("n_tokens"))
    d = exclusive_prefix_sum(d, id_col, "n_tokens", "__cum_in_batch")
    cum = F.col("__cum_in_batch") + F.lit(int(cursor_tokens)).cast("long")
    return d.select(
        id_col,
        "n_tokens",
        F.floor(cum / budget).cast("long").alias("seq_id"),
        F.pmod(cum, F.lit(budget)).cast("long").alias("seq_offset"),
    )


def sequence_pack_state(
    layout: DataFrame, budget: int, cursor_tokens: int = 0
) -> DataFrame:
    """One-row pack-cursor state relation ``(state_id, total_tokens,
    last_seq_id, last_seq_offset)`` after the batch laid out by
    :func:`sequence_pack_append` — the frame a streaming pack persists
    per micro-batch (exactly-once via the store's batch-id idempotent
    upsert on ``state_id``) so the NEXT batch starts from a one-row
    read instead of an aggregate over all packed history.
    ``cursor_tokens`` is the pre-batch cursor (returned unchanged when
    the batch is empty). One bounded agg over batch rows only."""
    total = F.coalesce(
        F.max(
            F.col("seq_id") * budget + F.col("seq_offset")
            + F.col("n_tokens")
        ),
        F.lit(int(cursor_tokens)).cast("long"),
    )
    return layout.agg(total.alias("total_tokens")).select(
        F.lit(0).alias("state_id"),
        F.col("total_tokens").cast("long"),
        F.expr(f"total_tokens div {int(budget)}").cast("long").alias(
            "last_seq_id"
        ),
        F.pmod(F.col("total_tokens"), F.lit(int(budget)))
        .cast("long")
        .alias("last_seq_offset"),
    )


# Patterns for the COUNTED redaction variant (redact_pii_counted) — the
# classic redact_pii above keeps its original 3-category list for the
# d04i oracle; this list adds IPv4 and per-category counting. Same regex
# subset common to Java regex (Spark) and RE2 (DuckDB): no backrefs, no
# lookaround. Order matters: SSN before phone (a phone pattern would
# otherwise swallow SSNs).
PII_PATTERNS_COUNTED: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\+?\d[\d \-]{7,}\d", "[PHONE]"),
]


def redact_pii_counted(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """PII redaction over a text column: emails, IPv4s, SSN-shaped and
    phone-shaped numbers replaced by typed placeholders, plus a per-row
    match count per category (``n_email``/``n_ip``/``n_ssn``/``n_phone``).
    Pure ``regexp_replace``/``regexp_count`` column expressions — fuses
    into the scan, shuffle-free, trivially parallel at corpus scale; the
    compliance pre-step every training-data pipeline runs before
    publishing a corpus.
    """
    out = out_col or text_col
    red = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS_COUNTED:
        counts.append(
            F.regexp_count(red, F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, repl)
    keep = [c for c in df.columns if c != out]
    return df.select(*keep, *counts, red.alias(out))


def shard_assign(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "shard",
) -> DataFrame:
    """Deterministic output-shard assignment for corpus writes: shard =
    md5-uniform hash of the document id — reproducible across engines
    and runs (no RNG, no sort), a pure projection that fuses into the
    scan. Adds ``shard`` and ``n_bytes`` (the document's UTF-8 payload
    size, the quantity shard balance is measured in). At corpus scale,
    hash sharding balances byte totals by the law of large numbers;
    verify with :func:`shard_plan` before committing a layout.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(n_shards),
    ).cast("int")
    return df.withColumn("shard", shard).withColumn(
        "n_bytes", F.octet_length(F.col(text_col)).cast("long")
    )


def shard_plan(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "shard",
) -> DataFrame:
    """Shard-layout health report: per-shard document count and byte
    total for the :func:`shard_assign` layout, plus the global byte
    imbalance ratio ``max_shard_bytes / mean_shard_bytes`` (repeated per
    row — a property of the layout; 1.0 is perfect balance). The check a
    100 TB writer runs before committing an output layout: one hash agg
    over the assignment + a broadcast of the ``n_shards``-row totals.
    """
    a = shard_assign(df, n_shards, id_col, text_col, salt)
    per = a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
    )
    tot = per.agg(
        (
            F.floor(
                F.max("total_bytes")
                / (F.sum("total_bytes") / F.count(F.lit(1)))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("imbalance")
    )
    return per.join(F.broadcast(tot)).select(
        "shard", "n_docs", "total_bytes", "imbalance"
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_round: int = 6,
) -> DataFrame:
    """Corpus-fit language-model score per document — the perplexity-proxy
    quality filter (CCNet/Gopher-style: score each doc by how well an
    n-gram LM trained on the corpus predicts it; low scores flag
    boilerplate/noise): ``(doc_id, n_bigrams, lm_score)`` where lm_score
    is the mean add-one-smoothed bigram log-probability
    ``mean_i ln((c(w_i, w_i+1) + 1) / (c(w_i) + V))`` with counts and
    vocab V from this corpus. Docs with fewer than 2 tokens are excluded
    (no bigrams to score).

    Determinism at scale — the integerize-before-reduce trick (the float
    analogue of d16's integer coarse dot): each bigram's log-prob is
    scaled by 1e9 and FLOORED TO A LONG before the per-doc sum, so the
    distributed aggregation is exact integer arithmetic — associative and
    bit-identical under any partitioning WITHIN an engine, AND map-side
    combinable (a fixed-order float fold would serialize per doc; an
    unordered float sum would drift per run). CROSS-engine exactness is
    strong but not absolute: the floor happens per-bigram before the
    reduce, so it still relies on JVM ``Math.log`` and the oracle's ``ln``
    agreeing at 1e-9 granularity (~1 ulp of ln ≈ 4e-6 scaled units →
    per-distinct-value flip probability ~1e-5). A unit flip shifts the
    per-doc mean by only 1/(n_bigrams·1e9), which the final
    ``score_round`` absorbs unless the mean also sits within ~2e-11 of a
    0.5e-6 rounding boundary — a ~3e-10/doc double-coincidence, accepted
    rather than margin-gated because any gate's own keep/drop threshold
    reintroduces the same boundary one level up.

    Scale shape: bigram/unigram count aggs are partial-combining hash
    aggs on the token keys; the count-attach joins co-partition with
    those aggs' output (vocab-sized, not corpus-sized); the per-doc agg
    shuffles only (doc_id, long) pairs. No windows, no UDFs, no driver
    collect."""
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__ws"))
    # The tokenized base feeds THREE passes (unigram counts, bigram
    # counts, scoring join) — a lazy local checkpoint shares ONE
    # evaluation of the caller's upstream lineage (for quality_pipeline
    # that lineage is the whole lang-ID → Gopher → dedup filter chain)
    # instead of re-running it per pass. The materialized relation is
    # (id, tokens) — the tokenized corpus, the same artifact-sized
    # tradeoff as d31's packing checkpoint.
    base = base.localCheckpoint(eager=False)
    uni = base.select(F.explode("__ws").alias("w1"))
    ucnt = uni.groupBy("w1").agg(F.count(F.lit(1)).alias("__cu"))
    # |vocab| == number of unigram-count groups: count the (vocab-sized)
    # count relation instead of a second corpus-wide distinct pass.
    vocab = ucnt.agg(F.count(F.lit(1)).alias("__v"))
    pairs = base.filter(F.size("__ws") >= 2).select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("__ws") - 2),
                lambda i: F.struct(
                    F.col("__ws")[i].alias("w1"), F.col("__ws")[i + 1].alias("w2")
                ),
            )
        ).alias("__bg"),
    ).select("doc_id", F.col("__bg.w1").alias("w1"), F.col("__bg.w2").alias("w2"))
    bcnt = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__cb"))
    scored = (
        pairs.join(bcnt, ["w1", "w2"])
        .join(ucnt, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.floor(
                F.log((F.col("__cb") + 1.0) / (F.col("__cu") + F.col("__v")))
                * F.lit(1000000000.0)
            ).cast("long").alias("__lp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"), F.sum("__lp").alias("__slp")
    )
    return agg.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("__slp").cast("double") / F.col("n_bigrams") / 1000000000.0,
            score_round,
        ).alias("lm_score"),
    )


def lm_quality_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 3,
    score_round: int = 6,
    bucket_scale: float = 1000.0,
) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every document by its
    corpus-fit LM score (:func:`bigram_lm_score`, best first, doc_id
    tie-break) and split the ranking into ``n_buckets`` equal-count
    buckets — ``(doc_id, n_bigrams, lm_score, bucket, label)`` with
    bucket 0 = most fluent (CCNet labels head/middle/tail when
    ``n_buckets == 3``). ``bucket = ((rank-1) * n_buckets) div N`` in
    exact integer arithmetic.

    Scale shape — NO single-reducer global window: the global rank is a
    value-bucketed two-phase prefix (the ``exclusive_prefix_sum``
    pattern adapted to a continuous key): rows coarse-bucket by
    ``floor(-lm_score * bucket_scale)`` (monotone in the order key, so
    per-bucket local ranks + an exclusive prefix over the BOUNDED bucket
    list compose into the exact global rank); the within-bucket windows
    run in parallel and the bucket-list window touches only
    ``O(score_range × bucket_scale)`` rows. Ranks depend only on values
    (never on partition assignment), so the result is deterministic under
    any partitioning and equals the oracle's plain ``row_number()``."""
    from pyspark.sql.window import Window

    s = bigram_lm_score(df, id_col, text_col, score_round)
    # Three consumers below (row count, bucket counts, ranked join) —
    # share one evaluation of the whole scoring DAG; the materialized
    # relation is (doc_id, n_bigrams, lm_score), three scalars per doc.
    s = s.localCheckpoint(eager=False)
    nrow = s.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    d = s.withColumn("__nk", -F.col("lm_score")).withColumn(
        "__vb", F.floor(F.col("__nk") * F.lit(float(bucket_scale)))
    )
    bc = d.groupBy("__vb").agg(F.count(F.lit(1)).alias("__bn"))
    wb = Window.orderBy("__vb").rowsBetween(Window.unboundedPreceding, -1)
    boff = bc.withColumn(
        "__boff", F.coalesce(F.sum("__bn").over(wb), F.lit(0))
    ).select("__vb", "__boff")
    wl = Window.partitionBy("__vb").orderBy("__nk", "doc_id")
    ranked = (
        d.join(F.broadcast(boff), "__vb")
        .withColumn("__rnk", F.row_number().over(wl) + F.col("__boff"))
        .crossJoin(F.broadcast(nrow))
    )
    bucket = F.expr(f"((__rnk - 1) * {int(n_buckets)}) div __n")
    if n_buckets == 3:
        label = (
            F.when(bucket == 0, F.lit("head"))
            .when(bucket == 1, F.lit("middle"))
            .otherwise(F.lit("tail"))
        )
    else:
        label = bucket.cast("string")
    return ranked.select(
        "doc_id",
        "n_bigrams",
        "lm_score",
        bucket.cast("int").alias("bucket"),
        label.alias("label"),
    )


def quality_pipeline(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang: str = "en",
    stopwords: list[str] | None = None,
    n_buckets: int = 3,
) -> DataFrame:
    """FineWeb/CCNet-style end-to-end corpus curation in ONE composed
    plan: language-ID filter → Gopher quality rules → exact dedup on
    normalized text (keep the smallest id per canonical form) →
    corpus-fit LM perplexity buckets over the SURVIVORS. Returns the d21
    shape ``(doc_id, n_bigrams, lm_score, bucket, label)`` — note the LM
    is fit on the FILTERED corpus, so bucket boundaries reflect what
    survives curation, exactly as a real pretraining pipeline refits its
    quality model post-filter.

    Every stage is an existing proven operator: the filters are
    shuffle-free projections that fuse into the scan, the dedup is one
    hash-partitioned window on the normalized text, the bucket rank is
    the value-bucketed two-phase prefix — nothing here adds a shuffle a
    100 TB corpus can't pay."""
    from basis_devkit_spark.operators.dedup import exact_dedup

    d1 = language_id(df, text_col).filter(F.col("lang_pred") == lang)
    d2 = gopher_rules(d1, text_col, stopwords=stopwords).filter(
        F.col("passes_gopher")
    )
    d3 = normalize_text(d2, text_col)
    d4 = exact_dedup(
        d3, ["norm_text"], order_by=id_col, keep="first", unique_order=True
    )
    survivors = d4.select(F.col(id_col), F.col(text_col))
    return lm_quality_buckets(survivors, id_col, text_col, n_buckets)


def source_mixture_weights(
    df: DataFrame,
    source_col: str = "source",
    alpha: float = 0.7,
    weight_round: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture reweighting per source (the multinomial
    up/down-sampling scheme of XLM-R / mT5 data mixing): ``(source,
    n_docs, share, rel_weight)`` where ``share = n_s / N`` and
    ``rel_weight = (n_s / n_max)^alpha`` — the sampling weight RELATIVE
    to the largest source. ``alpha < 1`` flattens the mixture (upweights
    small sources). The relative form is deliberate: it needs only exact
    integer counts, one division of exact rationals and one ``pow`` per
    source — no float SUM across sources, whose reduction order would be
    engine/partitioning-dependent; the caller normalizes ``q_s = rel_s /
    Σ rel`` driver-side over the bounded source list if true
    probabilities are needed. One hash agg + a one-row broadcast: flat
    at any corpus size."""
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("__N"),
        F.max("n_docs").cast("long").alias("__M"),
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(F.col("n_docs") / F.col("__N"), weight_round).alias("share"),
        F.round(
            F.pow(F.col("n_docs") / F.col("__M"), F.lit(float(alpha))),
            weight_round,
        ).alias("rel_weight"),
    )


#: Basic HTML entity decode table, applied in order — ``&amp;`` LAST so
#: double-encoded text (``&amp;lt;``) decodes one level per pass like
#: every standard decoder, never two.
HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]


def strip_html(
    df: DataFrame, text_col: str = "text", out_col: str = "text_plain"
) -> DataFrame:
    """Crawl-grade HTML boilerplate stripping — the text-extraction
    pass run on raw crawl payloads before ANY quality/dedup stage:
    drop ``<script>``/``<style>`` blocks and comments wholesale
    (their CONTENT is never prose), replace every remaining tag with a
    space, decode the basic entity set, collapse whitespace. Returns
    input columns + ``out_col`` + ``n_chars_raw``/``n_chars_plain``
    (the raw→plain shrink ratio is itself a boilerplate signal).

    Pure ``regexp_replace``/``replace`` column expressions with
    RE2/Java-compatible patterns (inline ``(?is)`` flags, lazy
    ``[\\s\\S]*?`` spans — no backreferences, no lookaround), so SQL
    oracles replay the chain exactly; one projection, fuses into the
    scan. This is deliberately a REGEX extractor, not a DOM parser:
    malformed crawl HTML breaks real parsers too, and the failure mode
    here degrades to extra whitespace, never a dropped document."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    s = F.regexp_replace(c, r"(?is)<script\b[^>]*>[\s\S]*?</script>", " ")
    s = F.regexp_replace(s, r"(?is)<style\b[^>]*>[\s\S]*?</style>", " ")
    s = F.regexp_replace(s, r"(?s)<!--[\s\S]*?-->", " ")
    s = F.regexp_replace(s, r"(?s)<[^>]+>", " ")
    for ent, rep in HTML_ENTITIES:
        s = F.replace(s, F.lit(ent), F.lit(rep))
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return (
        df.withColumn("n_chars_raw", F.length(c).cast("int"))
        .withColumn(out_col, s)
        .withColumn("n_chars_plain", F.length(F.col(out_col)).cast("int"))
    )


def char_entropy_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_round: int = 6,
) -> DataFrame:
    """Character-distribution quality signals per document: Shannon
    entropy of the character unigram distribution in bits
    (``entropy_bits``), distinct-character count and ratio, and the
    mass of the single most frequent character (``max_char_ratio``).
    Low entropy (or a high max-char ratio) flags keyboard mash,
    base64/hex blobs rendered as one repeated glyph class, padding
    runs, and template boilerplate that length/stopword rules miss —
    a standard pre-training quality gate alongside the Gopher rules.

    Every input row survives: empty/NULL text reports ``n_chars = 0``
    with NULL entropy/ratios (explicitly — a doc with no characters has
    no distribution, which is not the same as zero entropy).

    Parity contract: entropy is computed as
    ``log2(n) - sum(c*log2(c))/n`` where each ``c*log2(c)`` term is
    truncated to DECIMAL(18,6) BEFORE summing — the terms are functions
    of small integers, so the decimal truncation absorbs cross-engine
    libm last-ulp wobble and the sum itself is exact integer
    arithmetic, order-free at any parallelism; the final score is
    floor-scaled to ``out_round``.

    Scale shape: one explode to (doc, char) rows, one map-side-
    combinable (doc, char) count, one doc-keyed agg — the d44 bigram
    cost class (corpus-character-sized shuffle, no arrays held per
    row, no Window, no Python)."""
    txt = F.coalesce(F.col(text_col), F.lit(""))
    chars = df.select(
        id_col, F.explode(F.split(txt, "")).alias("__ch")
    ).filter(F.col("__ch") != "")
    counts = chars.groupBy(id_col, "__ch").agg(
        F.count(F.lit(1)).alias("__c")
    )
    term = (F.col("__c").cast("double") * F.log2(F.col("__c").cast("double")))
    agg = counts.groupBy(id_col).agg(
        F.sum("__c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        F.sum(term.cast("decimal(18,6)")).cast("double").alias("__s"),
        F.max("__c").cast("long").alias("__mx"),
    )
    scale = float(10 ** out_round)
    n = F.col("n_chars").cast("double")
    ent = F.floor(
        (F.log2(n) - F.col("__s") / n) * scale + 0.5
    ) / scale
    ratio = lambda c: F.floor(c.cast("double") / n * scale + 0.5) / scale
    scored = agg.select(
        id_col,
        "n_chars",
        "n_distinct_chars",
        ent.alias("entropy_bits"),
        ratio(F.col("n_distinct_chars")).alias("distinct_char_ratio"),
        ratio(F.col("__mx")).alias("max_char_ratio"),
    )
    base = df.select(id_col)
    return (
        base.join(scored, id_col, "left")
        .withColumn("n_chars", F.coalesce("n_chars", F.lit(0).cast("long")))
        .withColumn(
            "n_distinct_chars",
            F.coalesce("n_distinct_chars", F.lit(0).cast("long")),
        )
    )


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_r: int = 256,
    out_round: int = 6,
) -> DataFrame:
    """Zipf rank-frequency diagnostic: least-squares fit of
    ``log2(freq) ~ log2(rank)`` over the corpus's ``top_r`` most
    frequent terms. Natural text follows Zipf's law with slope ≈ −1;
    a corpus whose slope drifts shallow (template/boilerplate floods
    the head) or steep (mode collapse onto few tokens, synthetic-data
    contamination) fails the health check before any model sees it.
    Returns ONE row: ``(n_vocab, n_tokens, n_fit_terms, zipf_slope,
    intercept_log2, r2)``.

    Parity contract: rank and frequency are integers; each ``log2`` is
    DECIMAL(18,9)-truncated to absorb cross-engine libm last-ulp
    wobble, the OLS moment terms (x·y, x², y²) are formed in double
    FROM those identical truncated values and truncated again before
    the order-free DECIMAL sums, and the closed-form slope/intercept/
    r² arithmetic runs on the (identical) double moments — floor-
    scaled ``out_round``.

    Scale shape: explode → map-side-combinable term count → global
    top-``top_r`` via TakeOrdered (never a full sort of the vocab) →
    ranking window over the ``top_r``-row relation only (bounded by
    construction; the corpus-sized relation never meets a window)."""
    counts = zipf_term_counts(df, text_col)
    return zipf_fit_from_counts(counts, top_r=top_r, out_round=out_round)


def zipf_term_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The count phase of :func:`zipf_fit` — corpus term frequencies
    ``(term, freq)``. Split out because the relation is PERFECTLY
    mergeable (integer addition per term), which is what lets a
    streaming ingest maintain it incrementally (c29) and read the same
    Zipf report the one-shot fit produces."""
    toks = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    ex = df.select(F.explode(toks).alias("term")).filter(
        F.col("term") != ""
    )
    return ex.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    )


def zipf_fit_from_counts(
    counts: DataFrame, top_r: int = 256, out_round: int = 6
) -> DataFrame:
    """The fit phase of :func:`zipf_fit`, over a ``(term, freq)``
    relation — one-shot or incrementally maintained (c29). Same parity
    and scale contracts as the composed operator."""
    from pyspark.sql import Window as _W

    tot = counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_vocab"),
        F.sum("freq").cast("long").alias("n_tokens"),
    )
    top = counts.orderBy(F.col("freq").desc(), "term").limit(int(top_r))
    ranked = top.withColumn(
        "rank",
        F.row_number().over(_W.orderBy(F.col("freq").desc(), "term")),
    )
    trunc = lambda c: c.cast("decimal(18,9)").cast("double")
    x = trunc(F.log2(F.col("rank").cast("double")))
    y = trunc(F.log2(F.col("freq").cast("double")))
    xy = ranked.select(x.alias("x"), y.alias("y"))
    dsum = lambda c: F.sum(c.cast("decimal(18,9)")).cast("double")
    m = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + 0.5) / scale
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    slope = num / den
    return m.crossJoin(F.broadcast(tot)).select(
        "n_vocab",
        "n_tokens",
        F.col("n").cast("long").alias("n_fit_terms"),
        fs(slope).alias("zipf_slope"),
        fs((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept_log2"
        ),
        fs(num * num / (den * dy)).alias("r2"),
    )


def source_kl_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    out_round: int = 6,
) -> DataFrame:
    """Per-source KL divergence (bits) of the slice's term unigram
    distribution from the whole-corpus distribution — the information-
    theoretic companion to the d10 drift monitor's total-variation
    distance and the d22 mixture weights: a source whose KL spikes is
    contributing a vocabulary the rest of the corpus doesn't share
    (fresh domain: keep; template farm or synthetic flood: cap).
    Returns ``(source, n_tokens, n_types, kl_bits)``.

    ``KL(p_s || p_corpus) = Σ_t p_s(t)·log2(p_s(t)/q(t))`` expanded to
    ``Σ w·(log2 c_s + log2 N − log2 c_t − log2 n_s)`` so every log is a
    log OF AN INTEGER: each is DECIMAL(18,9)-truncated (the d60 trick —
    cross-engine libm last-ulp wobble is absorbed before any
    arithmetic), the weight ``c_s/n_s`` is an exact integer ratio, so
    every per-term product is an IDENTICAL double on both engines;
    products are DECIMAL(18,9)-rounded for the order-free exact sum
    and the result floor-scaled. q(t) > 0 always (the corpus includes
    the source), so no smoothing constant is needed.

    Scale shape: one explode + (source, term) map-side-combinable
    count, one term-keyed agg for corpus totals, one broadcast-sized
    per-source totals join — no windows, no Python, vocabulary never
    sorted."""
    toks = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"
    )
    ex = df.select(
        F.col(source_col).alias("source"), F.explode(toks).alias("term")
    ).filter(F.col("term") != "")
    f = ex.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ct = f.groupBy("term").agg(F.sum("c").cast("long").alias("ct"))
    ns = f.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    tot = f.agg(F.sum("c").cast("long").alias("N"))
    tl = lambda c: (
        F.log2(c.cast("double")).cast("decimal(18,9)").cast("double")
    )
    joined = (
        f.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
    )
    w = F.col("c").cast("double") / F.col("n_tokens").cast("double")
    l = (
        tl(F.col("c")) + tl(F.col("N"))
        - tl(F.col("ct")) - tl(F.col("n_tokens"))
    )
    # scale 9, not finer: a double->decimal cast can disagree across
    # engines when the value's SHORTEST repr terminates in '5' exactly
    # at the target scale (Spark rounds the shortest repr, DuckDB the
    # exact binary value) — measured ~1e-4/value at scale 12 vs ~1e-7
    # at scale 9 for O(1) magnitudes
    terms = joined.select(
        "source", (w * l).cast("decimal(18,9)").alias("__t")
    )
    scale = float(10 ** out_round)
    kl = terms.groupBy("source").agg(
        (
            F.floor(F.sum("__t").cast("double") * scale + 0.5) / scale
        ).alias("kl_bits")
    )
    return ns.join(kl, "source").select(
        "source", "n_tokens", "n_types", "kl_bits"
    )


def quality_ecdf_normalize(
    df: DataFrame,
    score_col: str = "quality_score",
    group_col: str = "source",
    id_col: str = "doc_id",
    out_col: str = "score_pct",
    out_round: int = 6,
    bucket_scale: float = 1000.0,
) -> DataFrame:
    """Cross-source quality-score calibration: replace each document's
    raw score with its Hazen ECDF position ``(rank − 0.5) / n`` WITHIN
    its source. Quality-classifier scores are not comparable across
    sources (a 0.7 on curated wiki text and a 0.7 on raw crawl mean
    different things), so mixing pipelines that threshold or sample on
    raw scores silently over-keep the easy source; rank-normalizing
    per source makes one threshold mean "the same fraction kept
    everywhere". Adds ``rank_in_group``, ``n_in_group`` and
    ``out_col`` ∈ (0, 1); ties break on ``id_col`` (fully
    deterministic, exact integer ranks). Rows whose score is NULL are
    EXCLUDED from the ranking (a missing classifier score is not the
    worst score): they pass through with NULL ``rank_in_group`` /
    ``n_in_group`` / ``out_col``, so downstream thresholds drop them
    explicitly rather than silently treating them as minimum quality.

    Scale shape — NO window spans a whole source: a mega-source (real
    corpora are 50–90 % one crawl) would otherwise serialize its entire
    row set through ONE task's external sort. The per-source exact rank
    is instead the d21 value-bucketed two-phase prefix applied per
    (source, score-bucket): rows coarse-bucket by
    ``floor(score × bucket_scale)`` (monotone in the order key, so
    per-bucket local ranks + an exclusive prefix over the bucket-count
    list compose into the exact within-source rank). The within-bucket
    windows run in parallel across ALL sources' buckets; the only
    per-source-wide window is the prefix over the BOUNDED
    (source × bucket) count table (O(score_range × bucket_scale) rows
    per source — ~1e3 for classifier scores in [0,1]), which is
    broadcast back. Ranks depend only on values, never on partition
    assignment, so the result equals the oracle's plain
    ``row_number() over (partition by source)`` bit-for-bit."""
    from pyspark.sql import Window

    scored = df.filter(F.col(score_col).isNotNull())
    unscored = df.filter(F.col(score_col).isNull())
    # bucket key must be monotone in the order key. The session pins
    # ANSI on, and an ANSI Cast(double AS long) of ±inf/NaN would be a
    # runtime ERROR — but this expression never routes through Cast:
    # floor(double) RETURNS LongType, converting via the JVM's
    # primitive (long) narrowing inside the floor expression itself
    # (+inf → Long.MAX_VALUE, -inf → Long.MIN_VALUE, NaN → 0
    # regardless of ANSI mode; the .cast("long") below is a no-op on
    # an already-long value). +inf therefore lands in the max bucket
    # (monotone ✓) but NaN would land at 0 while sorting LAST — so
    # remap NaN into the +inf bucket, where the within-bucket sort
    # orders +inf < NaN correctly (Spark sorts NaN greater than +inf,
    # matching the oracle). Guarded by
    # test_quality_ecdf_inf_nan_scores so a refactor that reintroduces
    # a true Cast fails loudly.
    vb = F.floor(F.col(score_col) * F.lit(float(bucket_scale))).cast(
        "long"
    )
    if dict(df.dtypes).get(score_col) in ("float", "double"):
        vb = F.when(
            F.isnan(F.col(score_col)), F.lit((1 << 63) - 1)
        ).otherwise(vb)
    d = scored.withColumn("__vb", vb)
    bc = d.groupBy(group_col, "__vb").agg(F.count(F.lit(1)).alias("__bn"))
    wb = (
        Window.partitionBy(group_col)
        .orderBy("__vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    boff = (
        bc.withColumn(
            "__boff", F.coalesce(F.sum("__bn").over(wb), F.lit(0))
        )
        .select(
            F.col(group_col).alias("__g1"),
            F.col("__vb").alias("__vb1"),
            "__boff",
        )
    )
    # null-safe group key: a NULL group is still a group (repo
    # standard, cf. apply_agg_delta) — plain equi-joins would
    # silently drop its rows
    ng = scored.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("__ng")
    ).select(F.col(group_col).alias("__g2"), "__ng")
    wl = Window.partitionBy(group_col, "__vb").orderBy(score_col, id_col)
    scale = float(10 ** out_round)
    rnk = (F.row_number().over(wl) + F.col("__boff")).cast("long")
    ranked = (
        d.join(
            F.broadcast(boff),
            F.col(group_col).eqNullSafe(F.col("__g1"))
            & (F.col("__vb") == F.col("__vb1")),
        )
        .join(F.broadcast(ng), F.col(group_col).eqNullSafe(F.col("__g2")))
        .withColumn("rank_in_group", rnk)
    )
    pct = F.floor(
        (F.col("rank_in_group").cast("double") - 0.5)
        / F.col("__ng").cast("double") * scale + 0.5
    ) / scale
    out = (
        ranked.withColumn("n_in_group", F.col("__ng"))
        .withColumn(out_col, pct)
        .drop("__vb", "__boff", "__ng", "__g1", "__vb1", "__g2")
    )
    nulls = (
        unscored.withColumn("rank_in_group", F.lit(None).cast("long"))
        .withColumn("n_in_group", F.lit(None).cast("long"))
        .withColumn(out_col, F.lit(None).cast("double"))
    )
    return out.unionByName(nulls)


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    para_split: str = r"\n{2,}",
) -> DataFrame:
    """Corpus-wide duplicated-paragraph removal (the RefinedWeb /
    Falcon span-dedup pass at paragraph granularity): any paragraph
    whose NORMALIZED form (lowercase, whitespace-collapsed) appears in
    ``min_docs`` or more distinct documents is boilerplate (headers,
    footers, licence blocks, cookie banners) and is dropped from EVERY
    document; surviving paragraphs are reassembled in their original
    order. Differs from d13 repeated-line removal, which is
    WITHIN-document. Returns ``(id, text_clean, n_paragraphs,
    n_removed)`` — one row per input document, empty string when all
    paragraphs were boilerplate.

    Scale shape: posexplode → one (paragraph-hash) count — map-side
    combinable, grouped on a 64-bit hash of the normalized text, never
    the text itself — → equi-join back on the hash → one per-doc
    re-aggregation (array_sort over the doc's own bounded paragraph
    list). No windows, no broadcast of the (unbounded) frequent set,
    no Python; the oracle replays the same normalization and counts in
    SQL on the raw text."""
    pid = F.col(id_col)
    paras = F.split(F.col(text_col), para_split)
    ex = df.select(
        pid.alias("__id"),
        F.posexplode(paras).alias("__pos", "__p"),
    ).withColumn(
        "__norm",
        F.regexp_replace(F.lower(F.trim(F.col("__p"))), r"\s+", " "),
    ).filter(F.col("__norm") != "")
    ex = ex.withColumn("__h", F.xxhash64("__norm"))
    freq = (
        ex.groupBy("__h")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h", F.lit(1).alias("__dup"))
    )
    kept = (
        ex.join(freq, "__h", "left")
        .withColumn("__rm", F.col("__dup").isNotNull())
    )
    per_doc = kept.groupBy("__id").agg(
        F.count(F.lit(1)).cast("int").alias("n_paragraphs"),
        F.sum(F.col("__rm").cast("int")).cast("int").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("__rm"),
                            F.struct(F.col("__pos"), F.col("__p")),
                        )
                    )
                ),
                lambda s: s["__p"],
            ),
            "\n\n",
        ).alias("text_clean"),
    )
    return (
        df.select(pid)
        .join(per_doc, pid == F.col("__id"), "left")
        .select(
            pid,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            F.coalesce("n_paragraphs", F.lit(0)).alias("n_paragraphs"),
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        )
    )


def encoding_signals(
    df: DataFrame,
    text_col: str = "text",
    mojibake_threshold: float = 0.001,
) -> DataFrame:
    """Encoding-quality curation signals — the cheap pre-filter for
    crawl text that survived a wrong charset somewhere upstream:

    - ``n_replacement`` — U+FFFD replacement characters (a decoder
      already gave up)
    - ``n_c0_control`` — C0 control chars other than tab/newline/CR
      (binary junk in "text")
    - ``n_c1_control`` — U+0080–U+009F (the classic latin-1/cp1252
      confusion band; real text never contains them)
    - ``n_mojibake_marks`` — UTF-8-read-as-latin-1 digraph markers
      (``A-tilde``/``A-circumflex``/``a-circumflex`` followed by a
      latin-1 continuation-range char, or the cp1252 euro/TM pair)
    - ``mojibake_ratio`` — (all four) / chars, floor-scaled 1e6
    - ``is_suspect`` — int flag, ratio > ``mojibake_threshold``

    Patterns use ``\\x{hhhh}`` code-point escapes — parsed identically
    by Java regex and RE2, so the oracle shares them VERBATIM. Pure
    regexp-count projection; zero shuffles, fuses into the scan."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.length(t)
    n_rep = F.regexp_count(t, F.lit("\\x{FFFD}"))
    n_c0 = F.regexp_count(
        t, F.lit("[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]")
    )
    n_c1 = F.regexp_count(t, F.lit("[\\x{0080}-\\x{009F}]"))
    n_moji = F.regexp_count(
        t,
        F.lit(
            "[\\x{00C2}\\x{00C3}\\x{00E2}]"
            "[\\x{0080}-\\x{00BF}\\x{20AC}\\x{2122}\\x{201C}\\x{2019}]"
        ),
    )
    bad = (n_rep + n_c0 + n_c1 + n_moji).cast("double")
    ratio = F.when(
        n_chars > 0,
        F.floor(bad / n_chars.cast("double") * 1000000.0 + 0.5)
        / 1000000.0,
    ).otherwise(F.lit(0.0))
    return df.select(
        *df.columns,
        n_rep.cast("int").alias("n_replacement"),
        n_c0.cast("int").alias("n_c0_control"),
        n_c1.cast("int").alias("n_c1_control"),
        n_moji.cast("int").alias("n_mojibake_marks"),
        ratio.alias("mojibake_ratio"),
        (ratio > float(mojibake_threshold)).cast("int").alias(
            "is_suspect"
        ),
    )


#: Unicode script ranges for :func:`dominant_script` — BMP blocks
#: (public Unicode data) as \\x{hhhh} code-point escapes, parsed
#: identically by Java regex and RE2 so oracles share them verbatim.
SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("[A-Za-z\\x{00C0}-\\x{024F}]", "latin"),
    ("[\\x{0400}-\\x{04FF}]", "cyrillic"),
    ("[\\x{0370}-\\x{03FF}]", "greek"),
    ("[\\x{0590}-\\x{05FF}]", "hebrew"),
    ("[\\x{0600}-\\x{06FF}]", "arabic"),
    ("[\\x{0900}-\\x{097F}]", "devanagari"),
    ("[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]", "han"),
    ("[\\x{3040}-\\x{309F}\\x{30A0}-\\x{30FF}]", "kana"),
    ("[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}]", "hangul"),
    ("[0-9]", "digit"),
)


def dominant_script(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Unicode-script histogram per document — the script-level
    language signal multilingual curation routes on before any model
    touches the text: per-script character counts (``n_<script>`` for
    latin / cyrillic / greek / hebrew / arabic / devanagari / han /
    kana / hangul / digit), ``n_chars_total``, the dominant script
    name (``script``, ties broken alphabetically; ``'other'`` when no
    script char occurs) and its fraction (``script_frac``,
    floor-scaled 1e6). Mixed-script text (a Latin spam injection
    inside CJK, or vice versa) shows up directly as a low dominant
    fraction.

    One regexp-count projection per script over BMP ranges, then a
    struct-max argmax — all column expressions, shared with the oracle
    verbatim; zero shuffles."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(t, F.lit(rng)) for rng, name in SCRIPT_RANGES
    }
    scripts = [n for _, n in SCRIPT_RANGES if n != "digit"]
    # argmax via struct max over (count, reversed-alphabetical-rank,
    # name): ties take the alphabetically FIRST script under greatest()
    ordered = sorted(scripts)
    best = F.greatest(
        *[
            F.struct(
                counts[n].alias("c"),
                F.lit(-i).alias("o"),
                F.lit(n).alias("s"),
            )
            for i, n in enumerate(ordered)
        ]
    )
    dom = F.when(best["c"] > 0, best["s"]).otherwise(F.lit("other"))
    n_chars = F.length(t)
    frac = F.when(
        (best["c"] > 0) & (n_chars > 0),
        F.floor(
            best["c"].cast("double") / n_chars.cast("double") * 1000000.0
            + 0.5
        )
        / 1000000.0,
    ).otherwise(F.lit(0.0))
    return df.select(
        *df.columns,
        *[counts[n].cast("int").alias(f"n_{n}") for _, n in SCRIPT_RANGES],
        n_chars.cast("int").alias("n_chars_total"),
        dom.alias("script"),
        frac.alias("script_frac"),
    )


def paragraph_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_split: str = r"\n{2,}",
) -> DataFrame:
    """``(__id, __h)`` — xxhash64 of each NORMALIZED non-empty
    paragraph per document (the :func:`paragraph_dedup` normalization,
    verbatim). The shared explode under :func:`snapshot_novelty` and
    the c34 streaming novelty gate: membership state is 8-byte hashes,
    never text."""
    return (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.col(text_col), para_split)).alias("__p"),
        )
        .withColumn(
            "__norm",
            F.regexp_replace(F.lower(F.trim(F.col("__p"))), r"\s+", " "),
        )
        .filter(F.col("__norm") != "")
        .select("__id", F.xxhash64("__norm").alias("__h"))
    )


def snapshot_novelty(
    new_df: DataFrame,
    old_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    para_split: str = r"\n{2,}",
    rate_round: int = 6,
    old_hashes: DataFrame | None = None,
) -> DataFrame:
    """Cross-snapshot novelty report — the dedup-planning pass run
    BEFORE ingesting a new crawl dump against the corpus you already
    have: for each new document, the fraction of its normalized
    paragraphs that do NOT already appear anywhere in the previous
    snapshot. A dump whose novelty distribution collapses toward 0 is
    a re-crawl not worth paying ingest + dedup for; per-doc novelty
    also feeds keep/drop thresholds directly. Returns ``(id,
    n_paragraphs, n_seen, novelty)`` per NEW document; documents with
    no non-empty paragraphs report NULL novelty.

    Scale shape: both sides posexplode to normalized-paragraph HASHES
    (xxhash64 — the old snapshot's text never moves, only 8-byte
    hashes); the membership test is one distinct + equi-join on the
    hash (shuffle-partitioned, never broadcast — the old snapshot is
    unbounded), then one per-doc aggregate. The :func:`paragraph_dedup`
    normalization is reused verbatim, so novelty and dedup agree on
    what 'the same paragraph' means. Pass ``old_hashes`` (a one-column
    relation of paragraph hashes, e.g. the c34 maintained hash store)
    instead of ``old_df`` when the previous snapshot is already
    hashed."""
    new_p = paragraph_hashes(new_df, id_col, text_col, para_split)
    if old_hashes is not None:
        first = old_hashes.columns[0]
        old_h = old_hashes.select(
            F.col(first).alias("__h")
        ).distinct().withColumn("__seen", F.lit(1))
    elif old_df is not None:
        old_h = paragraph_hashes(
            old_df, id_col, text_col, para_split
        ).select("__h").distinct().withColumn("__seen", F.lit(1))
    else:
        raise ValueError("need old_df or old_hashes")
    scale = float(10 ** rate_round)
    per_doc = (
        new_p.join(old_h, "__h", "left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_paragraphs"),
            F.sum(F.coalesce("__seen", F.lit(0))).cast("long").alias(
                "n_seen"
            ),
        )
    )
    novelty = F.floor(
        (F.col("n_paragraphs") - F.col("n_seen")).cast("double")
        / F.col("n_paragraphs").cast("double") * scale + 0.5
    ) / scale
    return (
        new_df.select(F.col(id_col))
        .join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .select(
            id_col,
            F.coalesce("n_paragraphs", F.lit(0)).alias("n_paragraphs"),
            F.coalesce("n_seen", F.lit(0)).alias("n_seen"),
            F.when(F.col("n_paragraphs") > 0, novelty).alias("novelty"),
        )
    )


def group_split(
    df: DataFrame,
    group_col: str = "source",
    weights: dict[str, float] | None = None,
    out_col: str = "split",
    buckets: int = 1_000_000,
) -> DataFrame:
    """Leakage-safe deterministic train/val/test assignment BY GROUP:
    every row of a group (a domain, a source, a near-dup cluster id)
    lands in the SAME split, because splitting near-identical documents
    across train and eval leaks the eval set (the GroupShuffleSplit
    discipline, applied where it matters most — dedup clusters and
    domains). The assignment is a pure function of the group value
    (``pmod(xxhash64(group), buckets)`` against cumulative weight
    thresholds): no RNG, no state, reproducible across runs, engines
    and cluster sizes; adding documents to a group NEVER moves the
    group. Weights default to ``{'train': .8, 'val': .1, 'test': .1}``
    and must sum to 1 (±1e-9). NULL groups hash like Spark's
    ``xxhash64(NULL)`` (the seed path) — one deterministic split, not
    a drop.

    Pure projection: zero joins, zero shuffles, fuses into the scan —
    the split of a 100 TB corpus costs one column."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    if not weights or abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")
    names = list(weights)
    b = F.pmod(F.xxhash64(F.col(group_col)), F.lit(int(buckets)))
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += weights[name]
        thresh = int(cum * buckets + 0.5)
        cond = b < thresh
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, out)


def fim_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate: float = 0.5,
    salt: str = "fim",
) -> DataFrame:
    """Fill-in-the-middle example construction (Bavarian et al. 2022,
    public): split each selected document into (prefix, middle,
    suffix) at two deterministic character offsets, so the training
    pipeline can emit the PSM/SPM reorderings; ``rate`` of documents
    are transformed (the paper's fim_rate), the rest pass through
    whole. Adds ``fim_applied`` (int), ``prefix``, ``middle``,
    ``suffix`` (non-selected and NULL-text docs keep the full text in
    ``prefix`` with empty middle/suffix — concat(prefix, middle,
    suffix) ALWAYS reconstructs the document, the invariant the test
    pins).

    Determinism without RNG state: the gate and both split offsets
    derive from md5-uniform integers keyed (salt, role, id) — the
    e12 assignment chain, reproducible across runs, engines and
    cluster sizes; the gate compares integers (``bucket <
    rate·2^32``), never floats. Offsets are ``pmod(bucket, len+1)``
    char positions; substring math is char-based on both engines.
    Pure projection — FIM-ing a 100 TB corpus costs one map pass, no
    shuffle, no UDF."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")

    def bucket(role: str) -> "F.Column":
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"{salt}:{role}:"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")

    gate_lim = int(round(float(rate) * 4294967296))
    txt = F.col(text_col)
    ln = F.length(txt)
    applied = (
        txt.isNotNull() & (ln > 0) & (bucket("gate") < F.lit(gate_lim))
    )
    p1 = F.pmod(bucket("p1"), ln + 1)
    p2 = F.pmod(bucket("p2"), ln + 1)
    lo, hi = F.least(p1, p2), F.greatest(p1, p2)
    return df.select(
        "*",
        applied.cast("int").alias("fim_applied"),
        F.when(applied, F.substring(txt, 1, lo))
        .otherwise(txt)
        .alias("prefix"),
        F.when(applied, F.substring(txt, lo + 1, hi - lo))
        .otherwise(F.when(txt.isNotNull(), F.lit("")))
        .alias("middle"),
        F.when(applied, F.substring(txt, hi + 1, ln - hi))
        .otherwise(F.when(txt.isNotNull(), F.lit("")))
        .alias("suffix"),
    )


def readability_scores(
    df: DataFrame,
    text_col: str = "text",
    out_round: int = 6,
) -> DataFrame:
    """Classic readability metrics (Flesch 1948 / Kincaid et al. 1975
    — public formulas) as curation signals: crawl text far outside the
    human-prose readability band is usually boilerplate, tables, code
    or word salad, and grade level is a standard stratification axis
    for curriculum mixes. Adds integer ``n_words`` (letter runs),
    ``n_sentences`` (terminal-punctuation runs, floored at 1 when the
    doc has words), ``n_syllables`` (vowel-group runs — the standard
    cheap syllable proxy), and the two derived scores::

        flesch_ease = 206.835 − 1.015·(words/sentences)
                              − 84.6·(syllables/words)
        fk_grade    = 0.39·(words/sentences)
                    + 11.8·(syllables/words) − 15.59

    Parity: the three counts are regexp counts with IDENTICAL patterns
    on both engines (Java regex and RE2 agree on these classes); the
    scores are single double expressions over those integers, 1e6
    floor-scaled. Docs with NULL text or zero words report NULL
    scores. Pure projection — no shuffle, no UDF."""
    scale = float(10 ** out_round)
    fs = lambda c: F.floor(c * scale + F.lit(0.5)) / scale
    txt = F.col(text_col)
    words = F.regexp_count(txt, F.lit("[A-Za-z]+"))
    sents_raw = F.regexp_count(txt, F.lit("[.!?]+"))
    sylls = F.regexp_count(F.lower(txt), F.lit("[aeiouy]+"))
    has = txt.isNotNull() & (words > 0)
    sents = F.greatest(sents_raw, F.lit(1))
    wd = words.cast("double")
    wps = wd / sents.cast("double")
    spw = sylls.cast("double") / wd
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return df.select(
        "*",
        F.when(txt.isNotNull(), words).cast("long").alias("n_words"),
        F.when(has, sents).cast("long").alias("n_sentences"),
        F.when(txt.isNotNull(), sylls).cast("long").alias("n_syllables"),
        F.when(has, fs(ease)).alias("flesch_ease"),
        F.when(has, fs(grade)).alias("fk_grade"),
    )


def _kn_trigrams(
    d: DataFrame, text_col: str, with_id: bool, id_col: str = "doc_id"
) -> DataFrame:
    """Exploded (w1,w2,w3) trigram instances of a document frame
    (lowercased whitespace tokens; docs with < 3 tokens drop)."""
    toks = F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " ")
    base = d.select(
        *([F.col(id_col).alias("doc_id")] if with_id else []),
        toks.alias("__ws"),
    ).filter(F.size("__ws") >= 3)
    tg = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.size("__ws") - 3),
            lambda i: F.struct(
                F.col("__ws")[i].alias("w1"),
                F.col("__ws")[i + 1].alias("w2"),
                F.col("__ws")[i + 2].alias("w3"),
            ),
        )
    ).alias("__t")
    idc = ["doc_id"] if with_id else []
    return base.select(*idc, tg).select(
        *idc,
        F.col("__t.w1").alias("w1"),
        F.col("__t.w2").alias("w2"),
        F.col("__t.w3").alias("w3"),
    )


def kn_trigram_counts(
    train: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """The KN fit's ONLY stateful relation: trigram-type counts
    ``(w1, w2, w3, c3)`` over ``train`` — one instance-level agg with
    map-side partial combine. Every other KN count table derives from
    this relation by type-sized aggregation at scoring time
    (:func:`kn_trigram_lm_score_from_counts`), which is what makes
    the fit STREAM-MAINTAINABLE (c37): c3 is SUM-mergeable per key
    across micro-batches, while the derived tables (n3f, n1p, nmc,
    nmf, nct, bt — all counts of DISTINCT types) are NOT directly
    mergeable (a later batch adding instances to an existing type
    must not bump a type count) and so are recomputed from the
    maintained tri relation instead of persisted."""
    return (
        _kn_trigrams(train, text_col, with_id=False)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).cast("long").alias("c3"))
    )


def kn_trigram_lm_score(
    train: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    floor_p: float = 1e-10,
    score_round: int = 6,
) -> DataFrame:
    """Interpolated Kneser-Ney trigram LM score per document (Kneser &
    Ney 1995 / Chen & Goodman 1998 — public; the smoothing KenLM
    implements and CCNet-style perplexity filtering is built on): fit
    the count tables on ``train``, score every ``score`` doc by its
    mean trigram log-probability. D19's add-one bigram is the cheap
    baseline; KN is the real thing — absolute discounting with
    CONTINUATION counts, so "francisco" (frequent but only ever after
    "san") stops inflating unseen-context probabilities::

        P(w3|w1w2) = max(c3−D,0)/c2 + (D·N1+(w1w2·)/c2)·P(w3|w2)
        P(w3|w2)   = max(N1+(·w2w3)−D,0)/N1+(·w2·)
                   + (D·N1+(w2·)/N1+(·w2·))·Pcont(w3)
        Pcont(w3)  = N1+(·w3) / |bigram types|

    with each level falling through to the next when its context was
    never seen, and the final probability clamped at ``floor_p``
    (unseen words score the floor, not −∞). All tables derive from the
    train slice's TRIGRAM relation (documented choice: edge bigrams at
    document boundaries are not counted separately), D = 0.75 is
    exactly representable (3/4), and every count is an exact integer.

    Determinism: d19's integerize-before-reduce — each trigram's
    log-prob floors to a 1e-9-scaled LONG before the per-doc sum
    (associative, map-side combinable, partitioning-independent);
    cross-engine agreement rides JVM/libm ``ln`` at 1e-9 granularity,
    the same documented ~1e-10/doc residual as d19. Scale shape
    (r14 consolidation — the count-table lookups run at TRIGRAM-TYPE
    level, never against the corpus-sized instance stream): the score
    corpus's DISTINCT trigram types are extracted with a map-side
    partially-aggregated groupBy (shuffled bytes ≈ types-per-map-task,
    ≪ corpus), the five left-joins + broadcast scalar evaluate the KN
    probability once per TYPE (type-sized × type-sized joins — all
    five fallback levels preserved exactly, which a fit-side fold of
    the tables into two keyed relations could not do: an unseen
    trigram with a SEEN (w1,w2) context still needs the independent
    c2ctx lookup, and likewise mid/midctx/cont at their own keys), and
    the instance stream then pays exactly ONE full-size Exchange — the
    (w1,w2,w3) join back to the per-type log-prob — before the
    map-side-combined per-doc agg of (doc_id, long) pairs. Fit side:
    ONE instance-level agg (train stream → trigram types) and one
    type-sized grouping-sets agg deriving all six count tables.
    Measured at 10× documents with broadcast disabled (100 TB regime
    proxy): 112.6 MB shuffle write vs the r13 five-join shape's
    170.6 MB (1.51×), with the stream exchange count plan-gated at ≤2
    (the five-join shape: 6). Per-doc sums are bit-identical
    to per-instance scoring because ``__lp`` is a deterministic
    integer per type. No windows, no UDFs, no collect. Docs with < 3
    tokens are excluded (no trigrams)."""
    return kn_trigram_lm_score_from_counts(
        kn_trigram_counts(train, text_col),
        score,
        id_col=id_col,
        text_col=text_col,
        discount=discount,
        floor_p=floor_p,
        score_round=score_round,
    )


def kn_trigram_lm_score_from_counts(
    counts: DataFrame,
    score: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
    floor_p: float = 1e-10,
    score_round: int = 6,
) -> DataFrame:
    """Score ``score`` docs from a precomputed (possibly
    stream-maintained, c37) trigram-type count relation
    ``counts(w1, w2, w3, c3)`` — the scoring half of
    :func:`kn_trigram_lm_score`; results are byte-identical to a
    one-shot fit on the same training data because tri is the fit's
    only state and everything else derives deterministically."""
    D = float(discount)
    # ALL SIX derived count tables from ONE grouping-sets aggregation
    # over the type relation — a TYPE-SIZED expand (×6 sets, plus the
    # countDistinct rewrite), never a corpus-sized one. Two earlier
    # r14 shapes were measured and rejected: grouping-sets straight
    # over the INSTANCE stream pays a ~36× per-instance expand that
    # trebled the 10×-corpus wall, and the r13 hierarchy (tri → c2ctx
    # → mid → midctx/cont as separate aggs) re-derives tri per branch
    # when exchange reuse misses. Per slice, from tri rows (each a
    # distinct type carrying its instance count c3):
    #   (w1,w2,w3): c3  = sum(c3) (the type's own count)
    #   (w1,w2):    c2  = sum(c3), n3f = count(*)        N1+(w1w2·)
    #   (w2,w3):    n1p = count(*)                       N1+(·w2w3)
    #   (w2):       nmc = count(*), nmf = countDistinct(w3)  N1+(·w2·)/N1+(w2·)
    #   (w3):       nct = countDistinct(w2)              N1+(·w3)
    #   ():         bt  = countDistinct(w2,w3)           |bigram types|
    tri0 = counts.select(
        "w1", "w2", "w3", F.col("c3").alias("__c3i")
    )
    G = tri0.groupingSets(
        [["w1", "w2", "w3"], ["w1", "w2"], ["w2", "w3"],
         ["w2"], ["w3"], []],
        "w1", "w2", "w3",
    ).agg(
        F.sum("__c3i").alias("__n"),
        F.count(F.lit(1)).alias("__t"),
        F.countDistinct("w3").alias("__dw3"),
        F.countDistinct("w2").alias("__dw2"),
        F.countDistinct("w2", "w3").alias("__dw23"),
        F.grouping_id().alias("__gid"),
    )
    # grouping_id bit per column (w1 msb), 1 = aggregated away
    tri = G.filter(F.col("__gid") == 0).select(
        "w1", "w2", "w3", F.col("__n").alias("__c3")
    )
    c2ctx = G.filter(F.col("__gid") == 1).select(
        "w1", "w2",
        F.col("__n").alias("__c2"), F.col("__t").alias("__n3f"),
    )
    mid = G.filter(F.col("__gid") == 4).select(
        "w2", "w3", F.col("__t").alias("__n1p")
    )
    midctx = G.filter(F.col("__gid") == 5).select(
        "w2",
        F.col("__t").alias("__nmc"), F.col("__dw3").alias("__nmf"),
    )
    cont = G.filter(F.col("__gid") == 6).select(
        "w3", F.col("__dw2").alias("__nct")
    )
    btypes = G.filter(F.col("__gid") == 7).select(
        F.col("__dw23").alias("__bt")
    )

    stream = _kn_trigrams(score, text_col, with_id=True, id_col=id_col)
    # Distinct trigram TYPES of the score corpus: partial (map-side)
    # aggregation collapses instance repetition before the shuffle, so
    # the five count-table joins below never touch corpus-sized data.
    types = (
        _kn_trigrams(score, text_col, with_id=False)
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("__ti"))
        .drop("__ti")
    )
    sg = (
        types.join(tri, ["w1", "w2", "w3"], "left")
        .join(c2ctx, ["w1", "w2"], "left")
        .join(mid, ["w2", "w3"], "left")
        .join(midctx, ["w2"], "left")
        .join(cont, ["w3"], "left")
        .crossJoin(F.broadcast(btypes))
    )
    dd = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("double")
    dl = F.lit(D)
    pcont = dd("__nct") / F.col("__bt").cast("double")
    pkn2 = F.when(
        dd("__nmc") > 0,
        F.greatest(dd("__n1p") - dl, F.lit(0.0)) / dd("__nmc")
        + ((dl * dd("__nmf")) / dd("__nmc")) * pcont,
    ).otherwise(pcont)
    pkn3 = F.when(
        dd("__c2") > 0,
        F.greatest(dd("__c3") - dl, F.lit(0.0)) / dd("__c2")
        + ((dl * dd("__n3f")) / dd("__c2")) * pkn2,
    ).otherwise(pkn2)
    p = F.greatest(pkn3, F.lit(float(floor_p)))
    typed_lp = sg.select(
        "w1",
        "w2",
        "w3",
        F.floor(F.log(p) * F.lit(1000000000.0)).cast("long").alias("__lp"),
    )
    # Every stream trigram is by construction present in `types`, so
    # the inner join is lossless; this is the one corpus-sized Exchange.
    scored = stream.join(typed_lp, ["w1", "w2", "w3"], "inner").select(
        "doc_id", "__lp"
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"), F.sum("__lp").alias("__slp")
    )
    return agg.select(
        "doc_id",
        "n_trigrams",
        F.round(
            F.col("__slp").cast("double")
            / F.col("n_trigrams")
            / 1000000000.0,
            score_round,
        ).alias("lm_score"),
    )
