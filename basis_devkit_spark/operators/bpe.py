"""BPE vocabulary induction (byte-pair-encoding merge learning) on Spark.

The tokenizer-training step of a pretraining pipeline (Sennrich et al.
2016, "Neural Machine Translation of Rare Words with Subword Units" —
public algorithm), re-expressed for the Spark execution model:

- **Count once, iterate on the distinct-word relation.** The corpus is
  scanned exactly once: ``lower → whitespace-split → groupBy word``
  yields ``(word, weight)``; every merge round then works on this
  bounded-vocabulary frame (distinct words ≪ corpus tokens — at 100 TB
  the word relation is millions of rows while the corpus is trillions of
  tokens), so the per-round shuffle is vocabulary-sized, not
  corpus-sized.
- **One hash-agg shuffle per round.** A round explodes adjacent symbol
  pairs weighted by word count (map-side partial agg), takes the global
  top pair via a bounded single-row fetch (count desc, pair asc — fully
  deterministic), and applies the merge as a pure projection (the
  left-to-right greedy fold standard BPE uses). No windows, no joins.
- **Exact integer arithmetic end to end.** Pair counts are integer sums
  of integer word weights — associative, bit-identical under any
  partitioning, and exactly reproducible by a Python model over the same
  corpus (how the d30 oracle verifies the learned merge table).

Reference parity: the reference devkit delegates tokenizer training to
its pipeline layer (basis-devkit patterns/pipelines); this provides the
equivalent as a first-class relational operator.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from basis_devkit_spark.session import local_relation

from .lineage import release_plan_blocks

#: End-of-word marker appended to every word's symbol sequence, so merges
#: can distinguish word-final subwords ("est</w>" vs "est") — the
#: standard Sennrich formulation.
EOW = "</w>"

#: Byte budget for broadcasting the vocabulary in the indexed apply
#: forms: a vocabulary whose plan size estimate fits broadcasts, a bigger
#: one goes to AQE's shuffled hash join. About 2M (word, subwords) rows
#: at ~100 B a row (~200 MB) — inside a healthy executor broadcast budget.
BROADCAST_VOCAB_MAX_BYTES = 2_000_000 * 100


def _vocab_join_broadcasts(vocab: DataFrame) -> bool:
    """Broadcast the vocabulary iff Spark's optimized-plan size estimate
    of it fits ``BROADCAST_VOCAB_MAX_BYTES`` — the same statistic Spark
    compares with its own broadcast threshold. Reading it launches no
    job, and it holds through a select or filter over a store read (file
    sizes) or an emitted vocabulary (checkpoint statistics)."""
    size = int(
        vocab._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    choice = size <= BROADCAST_VOCAB_MAX_BYTES
    logging.getLogger(__name__).info(
        "bpe vocab join: plan estimate %d B -> %s",
        size,
        "broadcast" if choice else "shuffled hash (AQE)",
    )
    return choice


def _word_weights(corpus: DataFrame, text_col: str) -> DataFrame:
    """``(word string, weight long)`` — distinct whitespace-lowered words
    with corpus frequencies. The ONLY corpus-wide scan BPE performs."""
    toks = F.explode(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    ).alias("word")
    return (
        corpus.select(toks)
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("weight"))
    )


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Greedy left-to-right application of one merge (left, right) →
    left||right over a symbol array — the standard BPE apply: a merged
    symbol never re-merges with the following symbol in the same round
    (so pair (a,a) over "aaa" yields [aa, a], not [aa, aa])."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_learn_merges(
    corpus: DataFrame,
    text_col: str = "text",
    num_merges: int = 8,
    words: DataFrame | None = None,
    batch_merges: int = 1,
    emit_vocab: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Learn ``num_merges`` BPE merges; returns the merge table
    ``(merge_rank int, left string, right string, merged string,
    pair_count long)`` — ``num_merges`` rows, the persistable tokenizer
    artifact (feed its (left, right) rows to :func:`bpe_apply` /
    ``sequence_pack``'s token-count column).

    Round r: explode adjacent symbol pairs of every distinct word
    (weighted by word frequency), integer-sum per pair, fetch the top
    ``batch_merges`` rows (count desc, then (left, right) asc — a
    bounded ``limit(N)`` fetch, the same bounded-driver-fetch contract
    as pagerank's per-round convergence scalar), then rewrite the symbol
    arrays with the greedy fold(s). The evolving word-symbols frame is
    re-persisted each round and the previous round's cache released — at
    any moment exactly one vocabulary-sized frame is pinned.

    **Scale bound — rounds are inherently sequential.** Each round is
    one Spark job whose input is the previous round's output; with
    ``batch_merges=1`` (classic BPE, the d30 oracle semantics) a
    production 32k-merge vocabulary means 32k sequential vocabulary-
    sized jobs — correct, but latency-bound by round count, not data.
    ``batch_merges=N`` is the scale path: per round, greedily admit from
    the top-N pairs every pair whose symbols {left, right, left+right}
    are disjoint from all pairs already admitted this round. Disjoint
    merges cannot create, destroy, or consume one another's adjacencies
    (a merge replaces [l, r] with one new symbol; its neighbors become
    adjacent to the NEW symbol, never to each other), so each admitted
    pair's count is exactly its pre-batch count and the per-round fetch
    stays bounded. Round count drops ~N-fold. The learned table can
    diverge from classic BPE only where classic's successive top pairs
    would have overlapped — a documented, deterministic semantics
    (mirrored exactly by the ``pyoracle.bpe_merges_model`` oracle, which
    takes the same ``batch_merges``).

    Pass a precomputed ``words`` (``(word, weight)``) to skip the corpus
    scan — the build-once path when several tokenizers are fit on one
    corpus.

    ``emit_vocab=True`` additionally returns the fitted TOKENIZED
    VOCABULARY ``(word string, subwords array<string>)`` — the evolving
    word-symbols frame already holds it when the loop ends, so emitting
    it costs ZERO extra passes (one extra string column rides the cached
    frame). This is the build-once artifact :func:`bpe_apply_indexed`
    consumes; persist it next to the merge table, then call
    :func:`release_tokenizer_vocab` to drop the pinned checkpoint
    blocks. Returns ``(merges_df, vocab_df)``."""
    if batch_merges < 1:
        raise ValueError("batch_merges must be >= 1")
    if words is None:
        words = _word_weights(corpus, text_col)
    syms = words.select(
        "word",
        "weight",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(EOW))
        ).alias("syms"),
    ).persist()
    vocab: DataFrame | None = None
    merges: list[tuple[int, str, str, str, int]] = []
    prev: DataFrame | None = None
    try:
        while len(merges) < num_merges:
            pairs = (
                syms.select(
                    "weight",
                    F.explode(
                        F.zip_with(
                            F.slice(F.col("syms"), 1, F.size("syms") - 1),
                            F.slice(F.col("syms"), 2, F.size("syms") - 1),
                            lambda a, b: F.struct(
                                a.alias("l"), b.alias("r")
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("weight").alias("cnt"))
            )
            top = pairs.orderBy(
                F.col("cnt").desc(), F.col("l"), F.col("r")
            ).limit(batch_merges).collect()  # bounded: <= N rows per round
            # this collect just materialized syms' LAZY checkpoint (the
            # pair count reads it), so the superseded round's blocks can
            # now be dropped — fusing checkpoint + top-pair fetch into
            # ONE job per round instead of two (r14: 8-round d37 fit).
            if prev is not None:
                release_plan_blocks(prev)
                prev = None
            if not top:
                break
            # Greedy disjoint admission: the first candidate is always
            # admitted, so every round makes progress.
            used: set[str] = set()
            batch: list[tuple[str, str, int]] = []
            for row in top:
                if len(merges) + len(batch) >= num_merges:
                    break
                left, right = row["l"], row["r"]
                if {left, right, left + right} & used:
                    continue
                used |= {left, right, left + right}
                batch.append((left, right, int(row["cnt"])))
            col = F.col("syms")
            for left, right, cnt in batch:
                merges.append(
                    (len(merges), left, right, left + right, cnt)
                )
                col = _merge_fold(col, left, right)
            if len(merges) >= num_merges:
                # FINAL round: no further pair counting happens. Without
                # emit_vocab the folds live in `merges` alone — break
                # with no checkpoint job for a frame nothing will read.
                # WITH emit_vocab the final fold-batch must still be
                # checkpointed EAGERLY: the emitted vocab must ride a
                # clean LogicalRDD plan (the apply-path plan-depth
                # contract — merges live in DATA, never in the consumer's
                # expression tree; gated by
                # test_bpe_apply_indexed_oov_and_plan_depth), and eager
                # materialization lets the superseded frame be released
                # here instead of pinning two vocabulary-sized block sets
                # until the caller consumes the vocab.
                if emit_vocab:
                    nxt = syms.select(
                        "word", col.alias("syms")
                    ).localCheckpoint(eager=True)
                    release_plan_blocks(syms)
                    syms = nxt
                    vocab = syms.select(
                        "word", F.col("syms").alias("subwords")
                    )
                    vocab._bds_backing = syms  # type: ignore[attr-defined]
                break
            # localCheckpoint (not persist) — CUTS LINEAGE each round.
            # With persist the logical plan still chains every previous
            # round's folds; across hundreds of rounds the accumulated
            # plan string / codegen blows the driver heap (observed OOM
            # at 8 rounds x 32 batched folds under an 8g heap) long
            # before data size matters. Checkpointing keeps every
            # round's plan exactly one fold-batch deep. LAZY (r14): the
            # next round's top-pair collect materializes it, so each
            # round runs one job, not two; the superseded frame is
            # released only AFTER that collect (releasing earlier would
            # strand the lazy checkpoint's still-live lineage).
            nxt = syms.select(
                "word", "weight", col.alias("syms")
            ).localCheckpoint(eager=False)
            # release_plan_blocks, not unpersist: DataFrame.unpersist()
            # is a silent no-op on checkpointed frames (see lineage.py),
            # so the superseded round's blocks must be dropped via the
            # backing RDD or they pin storage until GC.
            prev = syms
            syms = nxt
        if emit_vocab and vocab is None:
            # loop drained the pair relation before num_merges — the
            # vocab is the current frame verbatim. Deployment path:
            # write it to a store, then call release_tokenizer_vocab()
            # to drop the pinned blocks.
            vocab = syms.select("word", F.col("syms").alias("subwords"))
            vocab._bds_backing = syms  # type: ignore[attr-defined]
    finally:
        # a localCheckpoint'ed frame's blocks are its ONLY copy (lineage
        # is truncated) — when emitting the vocab, the final frame must
        # stay alive until the caller materializes/persists it; the
        # explicit release path is release_tokenizer_vocab() (GC +
        # ContextCleaner is only the fallback).
        if prev is not None and prev is not syms:
            release_plan_blocks(prev)  # loop raised mid-round
        if vocab is None:  # not emitting, or the loop raised
            release_plan_blocks(syms)
    spark = corpus.sparkSession
    merges_df = local_relation(
        spark,
        merges,
        "merge_rank int, left string, right string, merged string, pair_count long",
    )
    if emit_vocab:
        return merges_df, vocab
    return merges_df


def release_tokenizer_vocab(vocab: DataFrame) -> None:
    """Release the checkpoint blocks pinned behind a vocabulary frame
    returned by :func:`bpe_learn_merges` (``emit_vocab=True``) or
    :func:`bpe_tokenize_words` — call AFTER the vocab has been written
    to a store (or otherwise materialized). A ``localCheckpoint``'ed
    frame's blocks are its only copy, so the fit functions cannot drop
    them before returning; without an explicit release a long-lived
    session fitting several tokenizers accumulates vocabulary-sized
    block sets until Python GC + ContextCleaner get around to them.
    No-op for frames with no pinned backing.

    **Call it on the frame the fit RETURNED, before deriving from it**:
    the release handle rides a Python attribute, so any transformation
    (``vocab.filter(...)``, ``select``, …) yields a new frame WITHOUT
    it and the release silently degrades to the GC fallback. Persist /
    materialize first, release, then derive from the store."""
    backing = getattr(vocab, "_bds_backing", None)
    if backing is not None:
        release_plan_blocks(backing)
        vocab._bds_backing = None  # type: ignore[attr-defined]


def bpe_apply(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize ``text_col`` with a learned merge table: lower →
    whitespace words → per word, chars + ``</w>`` folded through every
    merge in rank order → ``out_col`` = flat ``array<string>`` of subword
    tokens. The merge table is bounded (``num_merges`` rows) and is read
    onto the driver once to build the projection — tokenization itself is
    a pure per-row expression (no shuffle, no UDF), so it composes with
    ``token_count``-style downstream packing at any scale."""
    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("merge_rank").collect()  # bounded artifact
    ]
    word_syms = lambda w: F.concat(F.split(w, ""), F.array(F.lit(EOW)))

    def tokenize_word(w: Column) -> Column:
        syms = word_syms(w)
        for left, right in ranked:
            syms = _merge_fold(syms, left, right)
        return syms

    wordarr = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    return df.withColumn(
        out_col, F.flatten(F.transform(wordarr, tokenize_word))
    )


def bpe_decode(
    df: DataFrame,
    tokens_col: str = "bpe_tokens",
    out_col: str = "text_decoded",
) -> DataFrame:
    """Inverse of the apply path over NORMALIZED text: concatenate the
    subword stream and turn each end-of-word marker back into one
    space. For any merge table,
    ``bpe_decode(bpe_apply*(df)) == trim(regexp_replace(lower(text),
    '\\s+', ' '))`` — BPE merges only regroup characters, they never
    create or destroy them, so tokenization is LOSSLESS up to the
    whitespace/lowercase normalization the word split applies. The d43
    oracle states exactly that invariant (the oracle never runs the
    tokenizer — losslessness means the round trip is derivable from the
    input alone). Pure projection: no shuffle, no UDF.

    The marker is stripped PER TOKEN (``</w>`` suffix → space), never by
    a global string replace: the end-of-word marker is an array SYMBOL,
    so text that literally contains ``</w>`` survives the round trip —
    its characters tokenize as four separate ``<``, ``/``, ``w``, ``>``
    symbols that no per-token suffix match can touch. The one
    precondition: the merge table must not itself assemble the literal
    marker string out of those text characters (three adjacent specific
    merges — not observed on natural text; fit vocabularies exclude the
    reserved marker by construction)."""
    joined = F.array_join(
        F.transform(
            F.col(tokens_col),
            lambda t: F.regexp_replace(t, r"</w>$", " "),
        ),
        "",
    )
    return df.withColumn(out_col, F.trim(joined))


def bpe_tokenize_words(
    words: DataFrame,
    merges: DataFrame,
    word_col: str = "word",
    out_col: str = "subwords",
    chunk: int = 16,
) -> DataFrame:
    """Tokenized-vocabulary relation ``(word, subwords array<string>)``
    from a distinct-word frame and a PERSISTED merge table — the
    refit-free path to the artifact :func:`bpe_apply_indexed` consumes
    (``bpe_learn_merges(emit_vocab=True)`` yields it for free at fit
    time).

    The merge folds are applied in ``chunk``-sized slices with an eager
    ``localCheckpoint`` between slices, so CATALYST PLAN DEPTH stays ≤
    ``chunk`` folds regardless of merge count — a 32k-merge vocabulary
    is 32k/chunk vocabulary-sized jobs, not one 32k-deep expression
    tree (analysis/codegen on that tree blows up long before any data
    moves). Deployment path: write the result to a store."""
    if chunk < 1:
        raise ValueError("chunk must be >= 1")
    ranked = [
        (r["left"], r["right"])
        for r in merges.orderBy("merge_rank").collect()  # bounded artifact
    ]
    cur = words.select(
        F.col(word_col).alias("word"),
        F.concat(F.split(F.col(word_col), ""), F.array(F.lit(EOW))).alias(
            out_col
        ),
    )
    prev_ckpt: DataFrame | None = None
    for lo in range(0, len(ranked), chunk):
        col = F.col(out_col)
        for left, right in ranked[lo : lo + chunk]:
            col = _merge_fold(col, left, right)
        cur = cur.select("word", col.alias(out_col))
        if lo + chunk < len(ranked):
            # eager checkpoint truncates lineage; the PREVIOUS slice's
            # checkpoint blocks are now unreachable from any live frame,
            # so release them immediately instead of waiting on GC +
            # ContextCleaner — a 32k-merge build at chunk=16 is ~2000
            # vocabulary-sized block sets otherwise (one frame pinned at
            # any moment, matching bpe_learn_merges' loop discipline).
            cur = cur.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                release_plan_blocks(prev_ckpt)
            prev_ckpt = cur
    # the LAST checkpoint backs the returned frame and must stay alive;
    # release it via release_tokenizer_vocab() after persisting the
    # result to a store.
    if prev_ckpt is not None:
        cur._bds_backing = prev_ckpt  # type: ignore[attr-defined]
    return cur


def bpe_apply_indexed(
    df: DataFrame,
    vocab: DataFrame,
    merges: DataFrame | None = None,
    text_col: str = "text",
    out_col: str = "bpe_tokens",
    id_col: str = "doc_id",
    oov_merge_depth: int = 0,
) -> DataFrame:
    """Vocabulary-scale tokenization: join each document's words against
    the precomputed ``(word, subwords)`` vocabulary relation instead of
    folding every merge inline. :func:`bpe_apply` is a pure projection
    but builds one nested fold PER MERGE RANK — plan depth linear in
    vocab size, a compile-time killer at a production 32k-merge
    tokenizer. This form's plan depth is CONSTANT in merge count: the
    merges live in the vocab relation's data, not the expression tree.

    Shape: ``posexplode_outer`` words → hash join the vocabulary
    (sized from the vocabulary's plan estimate: within
    ``BROADCAST_VOCAB_MAX_BYTES`` it broadcasts, bigger ones go to AQE's
    shuffled hash join, the choice logged) → regroup by
    document with an ``array_sort`` on word position → flatten. Costs one corpus shuffle (the regroup) that
    :func:`bpe_apply` avoids — the trade: one data-sized shuffle vs a
    vocab-sized expression tree; at 32k merges only this form compiles.

    OOV words (absent from the vocabulary) fall back to character +
    ``</w>`` symbols with only the FIRST ``oov_merge_depth`` merges
    folded inline (requires ``merges`` when > 0) — the inline fold is
    capped by this parameter BY CONSTRUCTION, never by vocab size;
    early merges capture most compression and OOV mass is small when
    the vocab was fit on in-distribution data. Other columns of ``df``
    are preserved via a final id join.

    **Precondition:** ``id_col`` must be NON-NULL and UNIQUE per row —
    the regroup keys on it and the final join is inner, so NULL ids are
    silently dropped and duplicate ids fan out (unlike
    :func:`bpe_apply`'s pure-projection contract, which preserves every
    input row). Synthesize a key first
    (``monotonically_increasing_id``) if the frame has none."""
    if oov_merge_depth > 0 and merges is None:
        raise ValueError("oov_merge_depth > 0 requires the merges table")
    ranked: list[tuple[str, str]] = []
    if oov_merge_depth > 0:
        ranked = [
            (r["left"], r["right"])
            for r in merges.orderBy("merge_rank").limit(
                oov_merge_depth
            ).collect()
        ]
    wordarr = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode_outer(wordarr).alias("__pos", "__w"),
    )
    voc = vocab.select(
        F.col("word").alias("__w"), F.col("subwords").alias("__sub")
    )
    if _vocab_join_broadcasts(vocab):
        voc = F.broadcast(voc)
    j = ex.join(voc, "__w", "left")
    oov = F.concat(F.split(F.col("__w"), ""), F.array(F.lit(EOW)))
    for left, right in ranked:
        oov = _merge_fold(oov, left, right)
    toks = F.when(
        F.col("__w").isNull(), F.array().cast("array<string>")
    ).otherwise(F.coalesce(F.col("__sub"), oov))
    grouped = (
        j.groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("__pos").alias("p"), toks.alias("t"))
                )
            ).alias("__tt")
        )
        .select(
            F.col("__id").alias(id_col),
            F.flatten(
                F.transform(F.col("__tt"), lambda s: s["t"])
            ).alias(out_col),
        )
    )
    return df.join(grouped, id_col)


def bpe_token_counts_indexed(
    df: DataFrame,
    vocab: DataFrame,
    merges: DataFrame | None = None,
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
    id_col: str = "doc_id",
    oov_merge_depth: int = 0,
) -> DataFrame:
    """Exact per-document subword COUNTS against the tokenized
    vocabulary — the packing-path shortcut: when downstream needs only
    ``n_tokens`` (sequence packing, shard planning, budget checks), the
    position-sorted token-array regroup of :func:`bpe_apply_indexed` is
    wasted work. Here the vocabulary broadcasts as ``(word, n_sub)``
    longs and the per-doc count is one SUM — map-side combinable, so
    the regroup shuffle carries one long per (doc, partition) instead
    of per-word token ARRAYS. Same OOV contract (char count + capped
    fold when ``oov_merge_depth`` > 0); docs with no words count 0.
    Other columns of ``df`` are preserved. Same ``id_col`` precondition
    as :func:`bpe_apply_indexed`: non-null and unique per row (NULL ids
    drop, duplicates fan out)."""
    if oov_merge_depth > 0 and merges is None:
        raise ValueError("oov_merge_depth > 0 requires the merges table")
    ranked: list[tuple[str, str]] = []
    if oov_merge_depth > 0:
        ranked = [
            (r["left"], r["right"])
            for r in merges.orderBy("merge_rank").limit(
                oov_merge_depth
            ).collect()
        ]
    wordarr = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    ex = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(wordarr).alias("__w"),
    )
    voc = vocab.select(
        F.col("word").alias("__w"),
        F.size("subwords").cast("long").alias("__n"),
    )
    if _vocab_join_broadcasts(vocab):
        voc = F.broadcast(voc)
    oov = F.concat(F.split(F.col("__w"), ""), F.array(F.lit(EOW)))
    for left, right in ranked:
        oov = _merge_fold(oov, left, right)
    n = F.when(F.col("__w").isNull(), F.lit(0).cast("long")).otherwise(
        F.coalesce(F.col("__n"), F.size(oov).cast("long"))
    )
    counts = (
        ex.join(voc, "__w", "left")
        .groupBy("__id")
        .agg(F.sum(n).alias(out_col))
        .withColumnRenamed("__id", id_col)
    )
    return df.join(counts, id_col)


def oov_rate(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Out-of-vocabulary report per corpus slice — the tokenizer-eval
    companion to the d45 fertility report: the fraction of word
    OCCURRENCES (token rate) and of DISTINCT words (type rate) a
    fitted vocabulary does not cover, per ``group_col``. A slice with
    high OOV either needs the tokenizer refit (c21) or is the wrong
    corpus for this tokenizer; byte-fallback BPE hides the problem in
    fertility, which is why both reports exist.

    ``vocab``: any relation with a ``word`` column — the
    ``bpe_learn_merges(emit_vocab=True)`` artifact (whose word set is
    exactly the fit corpus's distinct lowered whitespace words), or a
    store-read vocabulary (the join strategy is sized from the plan
    estimate like the indexed apply forms).

    Shape: explode words → LEFT join the vocab on word (broadcast or
    shuffled hash by size) → one group-keyed aggregate (counts +
    count_distinct). Rates floor-scaled 1e6 with integer numerators."""
    words = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    ex = df.select(
        F.col(group_col).alias("__g"), F.explode(words).alias("word")
    )
    v = vocab.select(F.col("word"), F.lit(1).alias("__hit")).distinct()
    if _vocab_join_broadcasts(v):
        v = F.broadcast(v)
    j = ex.join(v, "word", "left")
    oov = F.col("__hit").isNull()
    r6 = lambda num, den: F.when(
        den > 0, F.floor(num / den * 1000000.0 + 0.5) / 1000000.0
    ).otherwise(F.lit(0.0))
    return (
        j.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(oov.cast("long")).cast("long").alias("n_oov_tokens"),
            F.count_distinct(F.col("word")).cast("long").alias("n_types"),
            F.count_distinct(
                F.when(oov, F.col("word"))
            ).cast("long").alias("n_oov_types"),
        )
        .select(
            F.col("__g").alias(group_col),
            "n_tokens",
            "n_oov_tokens",
            "n_types",
            "n_oov_types",
            r6(
                F.col("n_oov_tokens").cast("double"),
                F.col("n_tokens").cast("double"),
            ).alias("oov_token_rate"),
            r6(
                F.col("n_oov_types").cast("double"),
                F.col("n_types").cast("double"),
            ).alias("oov_type_rate"),
        )
    )
