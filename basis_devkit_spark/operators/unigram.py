"""Unigram-LM (SentencePiece-style) subword tokenizer on Spark.

Kudo 2018, "Subword Regularization" (public — the unigram language
model tokenizer SentencePiece implements and the T5/LLaMA-family
pipelines actually train with), re-expressed for the Spark execution
model with the same contracts the BPE module established
(operators/bpe.py):

- **Count once, iterate on the distinct-word relation.** One corpus
  scan yields ``(word, weight)``; seeding, every EM round, and the
  apply-side segmentation all run on bounded word/piece relations —
  at 100 TB the corpus is trillions of tokens while distinct words are
  millions of rows and the piece vocabulary is thousands.
- **Deterministic hard-EM (Viterbi-EM).** Full SentencePiece EM uses
  forward-backward expected counts (floating-point accumulations whose
  cross-engine reduction order is not reproducible); this implements
  the documented Viterbi-EM variant: the E-step assigns each word its
  single best segmentation under the current piece log-probs, the
  M-step recounts pieces as EXACT INTEGER sums of word weights. Every
  Viterbi comparison is over 1e-9-scaled LONG log-probs (the d19/d88
  integerize contract), with an explicit tie-break (higher score, then
  longer piece), so the fit replays bit-identically on any engine —
  the d89 oracle is an independent Python model of exactly this
  algorithm.
- **Viterbi as a bounded per-word fold.** Segmentation explodes each
  DISTINCT word into its ≤ ``len·max_piece_len`` substrings, joins the
  piece table once (vocab-sized join), and runs the dynamic program as
  an ``aggregate`` fold over positions — vocabulary-sized state, the
  corpus is never iterated. Words longer than ``max_word_len`` bypass
  the quadratic DP and fall back to character pieces (the same cap
  SentencePiece applies to pathological input).
- **Apply = the d37 indexed-join shape.** Tokenizing a batch segments
  its distinct words, then rides ``bpe_apply_indexed``'s
  posexplode → vocab join (broadcast or shuffled hash, auto-sized) →
  positional regroup, unchanged. ``oov_rate`` / fertility reports work
  over the fitted piece table and tokenized output as-is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .bpe import _word_weights, bpe_apply_indexed

#: Scaled log-prob assigned to the UNK character fallback and to kept
#: pieces that no Viterbi path used (count 0): floor(ln(1e-12)·1e9).
#: A hardcoded integer literal — shared verbatim with the Python
#: oracle model, so no transcendental is evaluated for it anywhere.
UNK_LP = -27631021116


def _scaled_lp(cnt: Column, total: Column) -> Column:
    """floor(ln(cnt/total)·1e9) as LONG for cnt > 0, else UNK_LP."""
    return F.when(
        cnt > 0,
        F.floor(
            F.log(cnt.cast("double") / total.cast("double"))
            * F.lit(1000000000.0)
        ).cast("long"),
    ).otherwise(F.lit(UNK_LP))


def unigram_seed_pieces(
    words: DataFrame,
    max_piece_len: int = 4,
    seed_size: int = 1000,
) -> DataFrame:
    """Seed candidate vocabulary from a ``(word, weight)`` relation:
    every substring of length ≤ ``max_piece_len``, weighted by word
    frequency × occurrences-within-word, kept to the top ``seed_size``
    by (weight desc, piece asc) — plus EVERY single character seen
    (characters are never pruned; they are the fallback that makes any
    word segmentable). Returns ``(piece, cnt)``. The substring explode
    is ``Σ len(word)·max_piece_len`` rows over the DISTINCT-word
    relation — bounded, never corpus-sized."""
    L = int(max_piece_len)
    subs = words.select(
        "weight",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(L)),
                            lambda l: F.when(
                                i + l - 1 <= F.length("word"),
                                F.substring(F.col("word"), i, l),
                            ),
                        ),
                        lambda s: s.isNotNull(),
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(
        F.sum("weight").cast("long").alias("cnt")
    )
    # bounded window: the candidate relation is substring-of-vocab
    # sized (≤ Σ|w|·L over distinct words), never corpus-sized
    w = Window.orderBy(F.col("cnt").desc(), F.col("piece"))
    top = counts.withColumn("__r", F.row_number().over(w)).filter(
        (F.col("__r") <= int(seed_size)) | (F.length("piece") == 1)
    )
    return top.select("piece", "cnt")


def unigram_segment_words(
    words: DataFrame,
    pieces: DataFrame,
    max_piece_len: int = 4,
    max_word_len: int = 64,
    word_col: str = "word",
) -> DataFrame:
    """Viterbi-segment every word of a bounded word relation against a
    ``(piece, lp)`` table (``lp`` = 1e-9-scaled LONG log-prob):
    maximize the sum of piece log-probs; every position additionally
    carries an UNK single-character candidate at :data:`UNK_LP`, so
    the DP always completes. Tie-break: strictly higher score wins,
    equal score prefers the LONGER last piece — fully deterministic.
    Returns ``(word, parts array<string>)``.

    Shape: substring explode (≤ len·max_piece_len rows per distinct
    word) → one piece join → per-word fold. Words longer than
    ``max_word_len`` skip the quadratic DP and char-split."""
    L = int(max_piece_len)
    wl = F.length(F.col(word_col))
    base = words.select(F.col(word_col).alias("word")).distinct()
    short = base.filter(F.length("word") <= int(max_word_len))
    # candidate (start, len) substrings joined against the piece table
    cand = short.select(
        "word",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(L)),
                            lambda l: F.when(
                                i + l - 1 <= F.length("word"),
                                F.struct(
                                    i.alias("s"),
                                    l.alias("l"),
                                    F.substring(
                                        F.col("word"), i, l
                                    ).alias("p"),
                                ),
                            ),
                        ),
                        lambda s: s.isNotNull(),
                    ),
                )
            )
        ).alias("__c"),
    ).select(
        "word",
        F.col("__c.s").alias("__s"),
        F.col("__c.l").alias("__l"),
        F.col("__c.p").alias("__p"),
    )
    pc = pieces.select(
        F.col("piece").alias("__p"), F.col("lp").alias("__lp")
    )
    matched = cand.join(pc, "__p", "inner").select(
        "word",
        F.struct(
            (F.col("__s") + F.col("__l") - 1).alias("e"),
            F.col("__s").alias("s"),
            F.col("__l").alias("l"),
            F.col("__lp").alias("lp"),
        ).alias("__m"),
    )
    per_word = matched.groupBy("word").agg(
        F.collect_list("__m").alias("__ms")
    )
    # words none of whose substrings matched any piece still need rows
    per_word = short.join(per_word, "word", "left").select(
        "word",
        F.coalesce(
            "__ms",
            F.array().cast(
                "array<struct<e:int,s:int,l:int,lp:bigint>>"
            ),
        ).alias("__ms"),
    )
    n = F.length("word")
    # dp[i] = best (score, backpointer start, backpointer len) ending
    # at position i; candidates ending at i = piece matches plus the
    # UNK single char (s=i, l=1, lp=UNK_LP). Fold ascending so
    # element_at(acc, s-1) is always materialized when read.
    unk = lambda i: F.struct(
        i.alias("e"),
        i.alias("s"),
        F.lit(1).alias("l"),
        F.lit(UNK_LP).cast("bigint").alias("lp"),
    )
    neg_inf = F.lit(-(1 << 62)).cast("bigint")

    def dp_step(acc: Column, i: Column) -> Column:
        cands = F.concat(
            F.filter(F.col("__ms"), lambda m: m["e"] == i),
            F.array(unk(i)),
        )
        best = F.reduce(
            cands,
            F.struct(
                neg_inf.alias("sc"),
                F.lit(0).alias("bs"),
                F.lit(0).alias("bl"),
            ),
            lambda b, m: F.when(
                (
                    F.when(m["s"] == 1, F.lit(0).cast("bigint"))
                    .otherwise(F.element_at(acc, m["s"] - 1)["sc"])
                    + m["lp"]
                    > b["sc"]
                )
                | (
                    (
                        F.when(m["s"] == 1, F.lit(0).cast("bigint"))
                        .otherwise(F.element_at(acc, m["s"] - 1)["sc"])
                        + m["lp"]
                        == b["sc"]
                    )
                    & (m["l"] > b["bl"])
                ),
                F.struct(
                    (
                        F.when(m["s"] == 1, F.lit(0).cast("bigint"))
                        .otherwise(F.element_at(acc, m["s"] - 1)["sc"])
                        + m["lp"]
                    ).alias("sc"),
                    m["s"].alias("bs"),
                    m["l"].alias("bl"),
                ),
            ).otherwise(b),
        )
        return F.concat(acc, F.array(best))

    dp = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array().cast("array<struct<sc:bigint,bs:int,bl:int>>"),
        dp_step,
    )
    # backtrace: walk backpointers from n; at most n steps
    walk = F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            n.alias("pos"),
            F.array().cast("array<string>").alias("parts"),
        ),
        lambda acc, _i: F.when(
            acc["pos"] > 0,
            F.struct(
                (F.element_at(dp, acc["pos"])["bs"] - 1).alias("pos"),
                F.concat(
                    acc["parts"],
                    F.array(
                        F.substring(
                            F.col("word"),
                            F.element_at(dp, acc["pos"])["bs"],
                            F.element_at(dp, acc["pos"])["bl"],
                        )
                    ),
                ).alias("parts"),
            ),
        ).otherwise(acc),
    )
    segmented = per_word.select(
        "word", F.reverse(walk["parts"]).alias("parts")
    )
    long_words = words.select(
        F.col(word_col).alias("word")
    ).distinct().filter(wl > int(max_word_len)).select(
        "word", F.split(F.col("word"), "").alias("parts")
    )
    return segmented.unionByName(long_words)


def unigram_lm_fit(
    corpus: DataFrame,
    text_col: str = "text",
    vocab_size: int = 400,
    seed_size: int = 1000,
    max_piece_len: int = 4,
    em_iters: int = 3,
    max_word_len: int = 64,
    words: DataFrame | None = None,
) -> DataFrame:
    """Fit the unigram-LM piece table: seed candidates from the
    distinct-word relation, then ``em_iters`` rounds of hard EM —
    Viterbi-segment every word under the current log-probs, recount
    pieces as exact integer sums of word weights, prune to the top
    ``vocab_size`` by (count desc, piece asc) while NEVER pruning
    single characters, and re-derive scaled log-probs. Kept pieces no
    path used get :data:`UNK_LP` (they re-enter if a later round's
    probabilities route mass back through them). Returns
    ``(piece, cnt long, lp long)``.

    Each round's state is the vocab-sized piece table, materialized
    via ``localCheckpoint`` (the d61 LPA cadence) so the lineage does
    not re-run prior rounds. During the fit no UNK fallback can win —
    every character of every word is in the table by construction —
    so hard-EM counts are exact by definition, not approximation.

    ``words``: a precomputed ``(word, weight)`` relation to fit from
    instead of scanning ``corpus`` — the c38 streaming seam: word
    weights are the fit's ONLY corpus-derived input and are per-key
    SUM-mergeable across micro-batches, so a maintained word store
    refits byte-identically to a one-shot scan."""
    from .lineage import release_plan_blocks

    if words is None:
        words = _word_weights(corpus, text_col)
    # LAZY checkpoint + total collect = ONE job (r14): the eager
    # checkpoint used to re-run the seed/recount pipeline a second time
    # after the total had already evaluated it. The per-round state is
    # the materialized (piece, cnt) blocks; the scaled-lp column is a
    # pure projection over them, re-derived by each consumer for free.
    seed = unigram_seed_pieces(words, max_piece_len, seed_size)
    backing = seed.localCheckpoint(eager=False)
    total = backing.agg(F.sum("cnt")).collect()[0][0]
    pieces = backing.select(
        "piece",
        "cnt",
        _scaled_lp(F.col("cnt"), F.lit(int(total))).alias("lp"),
    )
    for _ in range(int(em_iters)):
        seg = unigram_segment_words(
            words, pieces, max_piece_len, max_word_len
        )
        used = (
            seg.join(words, "word")
            .select(F.explode("parts").alias("piece"), "weight")
            .groupBy("piece")
            .agg(F.sum("weight").cast("long").alias("__u"))
        )
        recount = pieces.select("piece").join(
            used, "piece", "left"
        ).select(
            "piece",
            F.coalesce(F.col("__u"), F.lit(0)).cast("long").alias("cnt"),
        )
        w = Window.orderBy(F.col("cnt").desc(), F.col("piece"))
        kept = recount.withColumn(
            "__r", F.row_number().over(w)
        ).filter(
            (F.col("__r") <= int(vocab_size))
            | (F.length("piece") == 1)
        ).drop("__r")
        nxt = kept.localCheckpoint(eager=False)
        tot = nxt.agg(F.sum("cnt")).collect()[0][0]  # materializes nxt
        release_plan_blocks(backing)  # superseded round's blocks
        backing = nxt
        pieces = backing.select(
            "piece",
            "cnt",
            _scaled_lp(F.col("cnt"), F.lit(int(tot))).alias("lp"),
        )
    return pieces


def unigram_lm_apply_indexed(
    df: DataFrame,
    pieces: DataFrame,
    text_col: str = "text",
    out_col: str = "um_tokens",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_word_len: int = 64,
) -> DataFrame:
    """Tokenize a batch with a fitted piece table: Viterbi-segment the
    batch's DISTINCT words (so unseen words are segmented exactly, not
    fallback-split — the piece table, not a word list, is the model),
    then ride :func:`bpe_apply_indexed`'s posexplode → vocab join →
    positional regroup verbatim with the ``(word, subwords)`` relation
    just built. Corpus cost: one word join + one positional regroup —
    identical to the d37 BPE apply; everything Viterbi-shaped runs at
    distinct-word scale."""
    wordarr = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    batch_words = df.select(
        F.explode(wordarr).alias("word")
    ).distinct()
    wvocab = unigram_segment_words(
        batch_words, pieces, max_piece_len, max_word_len
    ).select("word", F.col("parts").alias("subwords"))
    return bpe_apply_indexed(
        df,
        wvocab,
        merges=None,
        text_col=text_col,
        out_col=out_col,
        id_col=id_col,
    )
