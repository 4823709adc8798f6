"""§2.C streaming-semantics queries (tumbling/sliding/session windows) and
§2.D LLM-pipeline queries (dedup, similarity, text analysis, embeddings)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from basis_devkit_spark.session import local_relation
from pyspark.sql.window import Window

from basis_devkit_spark.queries import load, pyoracle, register


# ========================= §2.C windowed aggregations =========================
@register(
    "c03_tumbling_window",
    """
    select cast(date_trunc('hour', ts) as timestamp) as window_start,
           event_type,
           count(*) as n_events,
           cast(sum(cast(value as decimal(18,6))) as double) as total_value
    from events group by 1, 2
    """,
    doc="1-hour tumbling window rollup (F.window == epoch-aligned date_trunc)",
)
def c03(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "c06_late_data_filter",
    """
    select event_id, event_type, cast(ts as timestamp) as ts
    from (
      select event_id, event_type, ts,
             max(ts) over (order by event_id
                           rows between unbounded preceding and 1 preceding)
               as wm_ts
      from events
    )
    where wm_ts is null or ts >= wm_ts - interval 10 minute
    """,
    doc="watermark late-data policy replayed on batch: drop rows whose event "
    "time is below (max event time at arrival - 10 min); distributed "
    "two-pass prefix-max, no global sort",
)
def c06(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.streaming.ops import drop_late_events

    e = load(spark, sf, "events").select("event_id", "event_type", "ts")
    return drop_late_events(
        e, ts_col="ts", arrival_col="event_id", delay="10 minutes"
    )


@register(
    "c04_sliding_window",
    """
    with shifts as (select unnest([0, 1, 2, 3]) as i)
    select cast(to_timestamp(floor(epoch(ts) / 900) * 900 - i * 900) as timestamp)
             as window_start,
           count(*) as n_events
    from events cross join shifts
    group by 1
    """,
    doc="1-hour window sliding every 15 min (each event in exactly 4 windows)",
)
def c04(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "c05_session_window",
    """
    with gaps as (
      select user_id, ts, value,
             case when ts - lag(ts) over (partition by user_id order by ts)
                       > interval 30 minute
                  or lag(ts) over (partition by user_id order by ts) is null
                  then 1 else 0 end as new_session
      from events
    ), sessions as (
      select user_id, ts, value,
             sum(new_session) over (partition by user_id order by ts
                                    rows unbounded preceding) as session_id
      from gaps
    )
    select user_id,
           cast(min(ts) as timestamp) as session_start,
           count(*) as n_events,
           cast(sum(cast(value as decimal(18,6))) as double) as total_value
    from sessions group by user_id, session_id
    """,
    doc="30-min-gap sessionization (F.session_window vs lag/cumsum oracle)",
)
def c05(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@register(
    "c07_stateful_dedup",
    """
    select user_id, event_type, min(event_id) as first_event_id
    from events group by user_id, event_type
    """,
    doc="dedup-by-key keeping first occurrence (cross-batch unique_on semantics)",
)
def c07(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import exact_dedup

    e = load(spark, sf, "events")
    kept = exact_dedup(e, ["user_id", "event_type"], order_by="event_id", keep="first")
    return kept.select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id")
    )


# ============================ §2.D dedup operators ============================
@register(
    "d01_exact_dedup",
    """
    select doc_id, lang, source from (
      select doc_id, lang, source,
             row_number() over (partition by lang, source order by doc_id) as rn
      from documents) t
    where rn = 1
    """,
)
def d01(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import exact_dedup

    d = load(spark, sf, "documents")
    return exact_dedup(d, ["lang", "source"], order_by="doc_id", keep="first").select(
        "doc_id", "lang", "source"
    )


@register(
    "d02_ngram_jaccard_pairs",
    """
    with toks as (
      select doc_id, string_split(lower(text), ' ') as ws from documents
    ),
    sh0 as (
      select doc_id, ws,
             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
      from toks
    ),
    sh as (
      select distinct doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') as s
      from sh0
    ),
    capped as (select s from sh group by s having count(*) <= 200),
    shc as (select sh.doc_id, sh.s from sh join capped using (s)),
    sizes as (select doc_id, count(*) as sz from shc group by doc_id),
    ints as (
      select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_i
      from shc a join shc b on a.s = b.s and a.doc_id < b.doc_id
      group by 1, 2
    )
    select id_a, id_b, n_i / (sa.sz + sb.sz - n_i) as jaccard
    from ints
    join sizes sa on sa.doc_id = id_a
    join sizes sb on sb.doc_id = id_b
    where n_i / (sa.sz + sb.sz - n_i) >= 0.6
    """,
    doc="exact word-set Jaccard near-dup pairs (threshold 0.6); oracle "
    "recomputes the inverted-index join on shingle STRINGS (hash-free), so "
    "it also witnesses the xxhash64 shingle hashing being collision-clean",
)
def d02(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import ngram_jaccard_pairs

    d = load(spark, sf, "documents")
    # max_shingle_df caps hot-shingle posting lists — without it the
    # inverted-index self-join explodes on skewed shingles at scale.
    return ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_size=3, threshold=0.6, max_shingle_df=200
    )


@register(
    "d02e_duplicate_clusters",
    """
    with recursive toks as (
      select doc_id, string_split(lower(text), ' ') as ws from documents
    ),
    sh0 as (
      select doc_id, ws,
             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
      from toks
    ),
    sh as (
      select distinct doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') as s
      from sh0
    ),
    capped as (select s from sh group by s having count(*) <= 200),
    shc as (select sh.doc_id, sh.s from sh join capped using (s)),
    sizes as (select doc_id, count(*) as sz from shc group by doc_id),
    ints as (
      select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_i
      from shc a join shc b on a.s = b.s and a.doc_id < b.doc_id
      group by 1, 2
    ),
    edges as (
      select id_a, id_b from ints
      join sizes sa on sa.doc_id = id_a
      join sizes sb on sb.doc_id = id_b
      where n_i / (sa.sz + sb.sz - n_i) >= 0.6
    ),
    und as (
      select id_a as a, id_b as b from edges
      union
      select id_b, id_a from edges
    ),
    reach as (
      select a, b from und
      union
      select r.a, u.b from reach r join und u on r.b = u.a
    )
    select a as node, least(a, min(b)) as component
    from reach group by a
    """,
    doc="exact duplicate clusters: Jaccard pair edges -> distributed "
    "connected components (hash-min label propagation); oracle recomputes "
    "via a recursive-CTE transitive closure",
)
def d02e(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    d = load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_size=3, threshold=0.6, max_shingle_df=200
    )
    return connected_components(pairs, "id_a", "id_b")


@register(
    "d02i_duplicate_cluster_stats",
    """
    with recursive toks as (
      select doc_id, string_split(lower(text), ' ') as ws from documents
    ),
    sh0 as (
      select doc_id, ws,
             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
      from toks
    ),
    sh as (
      select distinct doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') as s
      from sh0
    ),
    capped as (select s from sh group by s having count(*) <= 200),
    shc as (select sh.doc_id, sh.s from sh join capped using (s)),
    sizes as (select doc_id, count(*) as sz from shc group by doc_id),
    ints as (
      select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_i
      from shc a join shc b on a.s = b.s and a.doc_id < b.doc_id
      group by 1, 2
    ),
    edges as (
      select id_a, id_b from ints
      join sizes sa on sa.doc_id = id_a
      join sizes sb on sb.doc_id = id_b
      where n_i / (sa.sz + sb.sz - n_i) >= 0.6
    ),
    und as (
      select id_a as a, id_b as b from edges
      union
      select id_b, id_a from edges
    ),
    reach as (
      select a, b from und
      union
      select r.a, u.b from reach r join und u on r.b = u.a
    ),
    comp as (
      select a as node, least(a, min(b)) as component
      from reach group by a
    )
    select cluster_size, count(*) as n_clusters
    from (select component, count(*) as cluster_size from comp
          group by component)
    group by cluster_size
    """,
    doc="duplicate-cluster size histogram: the dedup-audit summary "
    "(how much of the corpus sits in clusters of what size) over the "
    "connected components of the Jaccard edge graph",
)
def d02i(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    d = load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        d, "doc_id", "text", shingle_size=3, threshold=0.6, max_shingle_df=200
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
    )


@register(
    "d02b_minhash_dedup",
    # Literal-table oracle: an independent Python XXH64 model recomputes the
    # banded-LSH loser set; DuckDB applies the anti-filter to the table.
    pyoracle.minhash_dedup_sql,
    doc="MinHash LSH near-dedup survivors (64 hashes, 16 bands)",
)
def d02b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import minhash_dedup

    d = load(spark, sf, "documents")
    return minhash_dedup(
        d, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.7
    ).select("doc_id", "lang", "source")


@register(
    "d02h_incremental_minhash_dedup",
    # Literal-table oracle: the independent XXH64 model replays BOTH
    # phases (vs-corpus drop, then within-batch keep-one) and emits the
    # surviving new-batch ids as VALUES.
    pyoracle.incremental_minhash_sql,
    doc="incremental crawl-refresh dedup: new batch (odd doc_ids + exact "
    "copies of corpus docs) near-deduped AGAINST the existing corpus "
    "(even doc_ids) via band-bucket join, then keep-one within the batch "
    "— planted copies must be dropped by phase 1",
)
def d02h(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import minhash_dedup_against

    docs = load(spark, sf, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    planted = corpus.filter(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = minhash_dedup_against(
        new.unionByName(planted), corpus, "doc_id", "text",
        jaccard_threshold=0.7,
    )
    return out.select("doc_id")


@register(
    "d02c_simhash",
    # Literal fingerprints from the Python SimHash model; DuckDB does the
    # Hamming pairing itself via xor + bit_count (exact: pigeonhole with
    # max_hamming < blocks is lossless, so all-pairs == blocked pairs).
    pyoracle.simhash_pairs_sql,
    doc="SimHash 64-bit fingerprints + Hamming near-dup pairs (≤3 bits)",
)
def d02c(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import simhash_near_dup_pairs

    d = load(spark, sf, "documents")
    return simhash_near_dup_pairs(d, "doc_id", "text", max_hamming=3)


# ========================= §2.D similarity search =============================
@register(
    "d03_similarity_topk",
    """
    with q as (select vec_id, embedding from embeddings where vec_id < 5),
    scored as (
      select q.vec_id as query_id, c.vec_id as match_id,
             list_cosine_similarity(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(c.embedding, x -> cast(x as double))) as score
      from q join embeddings c on q.vec_id != c.vec_id
    ), ranked as (
      select query_id, match_id, score,
             row_number() over (partition by query_id
                                order by score desc, match_id) as rank
      from scored)
    select query_id, match_id, round(score, 4) as score, rank
    from ranked where rank <= 5
    """,
    doc="exact brute-force cosine top-5 (broadcast queries, zip_with dot product)",
)
def d03(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(q, emb, vec_col="embedding", id_col="vec_id", k=5)
    return out.select(
        "query_id", "match_id", F.round("score", 4).alias("score"), "rank"
    )


@register(
    "d03e_dot_topk",
    """
    with q as (select vec_id, embedding from embeddings where vec_id < 5),
    scored as (
      select q.vec_id as query_id, c.vec_id as match_id,
             list_inner_product(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(c.embedding, x -> cast(x as double))) as score
      from q join embeddings c on q.vec_id != c.vec_id
    ), ranked as (
      select query_id, match_id, score,
             row_number() over (partition by query_id
                                order by score desc, match_id) as rank
      from scored)
    select query_id, match_id, round(score, 4) as score, rank
    from ranked where rank <= 5
    """,
    doc="exact inner-product (MIPS) top-5 — the metric un-normalized "
    "embedding models are trained with",
)
def d03e(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(q, emb, k=5, metric="dot")
    return out.select(
        "query_id", "match_id", F.round("score", 4).alias("score"), "rank"
    )


@register(
    "d03f_l2_topk",
    """
    with q as (select vec_id, embedding from embeddings where vec_id < 5),
    scored as (
      select q.vec_id as query_id, c.vec_id as match_id,
             -list_distance(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(c.embedding, x -> cast(x as double))) as score
      from q join embeddings c on q.vec_id != c.vec_id
    ), ranked as (
      select query_id, match_id, score,
             row_number() over (partition by query_id
                                order by score desc, match_id) as rank
      from scored)
    select query_id, match_id, round(score, 4) as score, rank
    from ranked where rank <= 5
    """,
    doc="exact euclidean nearest-5 (score = negated L2 so higher is "
    "closer, same top-k machinery)",
)
def d03f(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import brute_force_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(q, emb, k=5, metric="l2")
    return out.select(
        "query_id", "match_id", F.round("score", 4).alias("score"), "rank"
    )


@register(
    "d03b_lsh_topk",
    # Candidate pairs from the Python sign-LSH model (same seeded planes,
    # same sequential-fold dot product); DuckDB re-ranks them with exact
    # cosine + row_number — the re-rank half is fully oracle-verified.
    pyoracle.lsh_topk_sql,
    doc="sign-LSH bucketed ANN top-5 + exact re-rank",
)
def d03b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import lsh_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(q, emb, k=5, num_planes=16, bands=8).select(
        "query_id", "match_id", F.round("score", 4).alias("score"), "rank"
    )


@register(
    "d06_embedding_norms",
    """
    select vec_id, label,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> cast(x as double) * cast(x as double)))), 4) as l2_norm,
           round(list_sum(list_transform(embedding, x -> cast(x as double))), 4)
             as comp_sum,
           len(embedding) as dim
    from embeddings
    """,
    doc="embedding column ops: per-vector norm/sum/dim via array HOFs",
)
def d06(spark: SparkSession, sf: str) -> DataFrame:
    e = load(spark, sf, "embeddings")
    vd = F.transform("embedding", lambda x: x.cast("double"))
    return e.select(
        "vec_id",
        "label",
        F.round(
            F.sqrt(
                F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
            ),
            4,
        ).alias("l2_norm"),
        F.round(F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x), 4).alias(
            "comp_sum"
        ),
        F.size("embedding").alias("dim"),
    )


# ============================ §2.D text analysis ==============================
@register(
    "d04_text_stats",
    """
    select doc_id,
           length(text) as n_chars_calc,
           len(string_split(trim(text), ' ')) as n_words,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^ A-Za-z0-9]'))
             as n_tokens_bpe,
           round(len(list_filter(string_split(lower(trim(text)), ' '),
                 w -> list_contains(['the','and','of','to','in','is','that',
                                     'for','with','a','it','on','as','at','by',
                                     'an','be','or','are','was','this'], w)))
                 / greatest(len(string_split(trim(text), ' ')), 1), 6)
             as stopword_ratio
    from documents
    """,
    doc="per-document text statistics (counts + stopword ratio)",
)
def d04(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import text_stats

    d = load(spark, sf, "documents")
    return text_stats(d, "text").select(
        "doc_id", "n_chars_calc", "n_words", "n_tokens_bpe", "stopword_ratio"
    )


_LANG_ARR = {
    "en": "['the','and','of','to','in','is','that','for','with','a']",
    "de": "['der','die','das','und','ist','nicht','mit','ein','zu','den']",
    "fr": "['le','la','les','et','est','pas','des','une','que','dans']",
    "es": "['el','la','los','las','y','es','no','una','que','por']",
    "zh": "['的','是','不','了','在','人','有','我','他','这']",
}

_STATS_SQL = """
  select *,
    len(string_split(trim(text), ' ')) as n_words,
    round(len(regexp_replace(text, '[^\\.,;:!\\?''"()\\[\\]-]', '', 'g'))
          / greatest(len(text), 1), 6) as punct_ratio,
    round(len(list_filter(string_split(lower(trim(text)), ' '),
          w -> list_contains(['the','and','of','to','in','is','that','for',
                              'with','a','it','on','as','at','by','an','be',
                              'or','are','was','this'], w)))
          / greatest(len(string_split(trim(text), ' ')), 1), 6) as stopword_ratio,
    round(len(regexp_replace(text, '\\s+', '', 'g'))
          / greatest(len(string_split(trim(text), ' ')), 1), 6) as mean_word_len
  from documents
"""

# Final rounding is the explicit IEEE floor(x*1e6+0.5)/1e6 on BOTH sides
# (engine round() modes disagree on near-tie doubles; see
# operators/text.py:quality_score).
_QUALITY_EXPR = """
      floor(((least(n_words / 50.0, 1.0)
             + cast(mean_word_len >= 3 and mean_word_len <= 10 as double)
             + least(stopword_ratio * 5.0, 1.0)
             + greatest(0.0, 1.0 - punct_ratio * 5.0)) / 4.0)
            * 1000000.0 + 0.5) / 1000000.0
"""


@register(
    "d04b_lang_id",
    f"""
    with w as (
      select doc_id, lang, string_split(lower(trim(text)), ' ') as ws
      from documents
    ),
    s as (select doc_id, lang,
      len(list_intersect(ws, {_LANG_ARR['en']})) as s_en,
      len(list_intersect(ws, {_LANG_ARR['de']})) as s_de,
      len(list_intersect(ws, {_LANG_ARR['fr']})) as s_fr,
      len(list_intersect(ws, {_LANG_ARR['es']})) as s_es,
      len(list_intersect(ws, {_LANG_ARR['zh']})) as s_zh
    from w)
    select doc_id, lang,
      case when greatest(s_en, s_de, s_fr, s_es, s_zh) = 0 then 'und'
           when s_en >= s_de and s_en >= s_fr and s_en >= s_es
                and s_en >= s_zh then 'en'
           when s_de >= s_fr and s_de >= s_es and s_de >= s_zh then 'de'
           when s_fr >= s_es and s_fr >= s_zh then 'fr'
           when s_es >= s_zh then 'es'
           else 'zh' end as lang_pred
    from s
    """,
    doc="marker-word language-ID heuristic (argmax of per-language marker "
    "hits; ties keep the earlier language; zero hits -> 'und')",
)
def d04b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import language_id

    d = load(spark, sf, "documents")
    return language_id(d, "text").select("doc_id", "lang", "lang_pred")


@register(
    "d04c_quality_score",
    f"""
    select doc_id, {_QUALITY_EXPR} as quality_score
    from ({_STATS_SQL})
    """,
    doc="document quality scoring (length/stopword/punctuation composite)",
)
def d04c(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import quality_score

    d = load(spark, sf, "documents")
    return quality_score(d, "text").select("doc_id", "quality_score")


@register(
    "d04d_fingerprint",
    # Literal-table oracle: independent Python XXH64 fold model.
    pyoracle.fingerprint_sql,
    doc="order-sensitive rolling-hash document fingerprint",
)
def d04d(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import doc_fingerprint

    d = load(spark, sf, "documents")
    return doc_fingerprint(d, "text").select("doc_id", "fingerprint")


@register(
    "d05b_media_sniff",
    r"""
    with blobs as (
      select doc_id,
             case doc_id % 3
               when 0 then '\x89PNG\x0D\x0A\x1A\x0A'::blob
               when 1 then '\xFF\xD8\xFF\xE0'::blob
               else 'RIFF'::blob
             end || encode(text) as content
      from documents
    )
    select doc_id,
           case when substr(hex(content), 1, 16) = '89504E470D0A1A0A' then 'png'
                when substr(hex(content), 1, 6) = 'FFD8FF' then 'jpeg'
                when substr(hex(content), 1, 8) = '52494646' then 'riff'
                else 'bin' end as fmt,
           octet_length(content) as n_bytes,
           md5(hex(content)) as content_hash
    from blobs
    """,
    doc="binary media column pipeline that needs NO codec: deterministic "
    "blobs with real magic bytes, content-based format sniffing, byte "
    "length, and a content hash — all on the binary column, JVM-side",
)
def d05b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import sniff_format

    d = load(spark, sf, "documents").select("doc_id", "text")
    hdr = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(b"\xff\xd8\xff\xe0"))
        .otherwise(F.lit(b"RIFF"))
    )
    blobs = d.withColumn("content", F.concat(hdr, F.encode("text", "utf-8")))
    return blobs.select(
        "doc_id",
        sniff_format("content").alias("fmt"),
        F.length("content").cast("long").alias("n_bytes"),
        F.md5(F.hex("content")).alias("content_hash"),
    )


@register(
    "d05_multimodal_plumbing",
    """
    select doc_id,
           case cast(doc_id % 3 as int) when 0 then 'png'
                                        when 1 then 'jpeg'
                                        else 'gif' end as fmt,
           cast(16 + (doc_id * 7) % 500 as int) as width,
           cast(16 + (doc_id * 13) % 300 as int) as height,
           3 as channels
    from documents where doc_id < 200
    """,
    doc="multimodal decode END-TO-END: synthesize valid PNG/JPEG/GIF "
    "headers with doc_id-derived dimensions as binary columns (JVM-side "
    "byte construction), sniff the format from magic bytes, and decode "
    "width/height/channels back out through mapInPandas with the REAL "
    "pure-Python header parser; the oracle recomputes the dimensions "
    "arithmetically — a decode bug cannot hash-match",
)
def d05(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import decode_images, sniff_format

    d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)

    def be(col, hex_width):  # big-endian fixed-width binary from an int col
        return F.unhex(F.lpad(F.hex(col), hex_width, "0"))

    w = (F.lit(16) + (F.col("doc_id") * 7) % 500).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 13) % 300).cast("int")
    le16 = lambda col: F.unhex(  # noqa: E731 — little-endian uint16
        F.concat(
            F.lpad(F.hex(col.bitwiseAND(F.lit(255))), 2, "0"),
            F.lpad(F.hex(F.shiftright(col, 8)), 2, "0"),
        )
    )
    png = F.concat(
        F.lit(bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])),
        F.lit(b"\x00\x00\x00\x0dIHDR"),
        be(w, 8),
        be(h, 8),
        F.lit(b"\x08\x02\x00\x00\x00" + b"\x00" * 4),  # RGB8 + CRC slot
    )
    jpeg = F.concat(
        F.lit(b"\xff\xd8\xff\xc0\x00\x11\x08"), be(h, 4), be(w, 4), F.lit(b"\x03")
    )
    gif = F.concat(F.lit(b"GIF89a"), le16(w), le16(h))
    header = (
        F.when(F.col("doc_id") % 3 == 0, png)
        .when(F.col("doc_id") % 3 == 1, jpeg)
        .otherwise(gif)
    )
    blobs = d.select(
        "doc_id",
        F.concat(header, F.encode("text", "utf-8")).alias("content"),
    )
    sniffed = blobs.select("doc_id", sniff_format("content").alias("fmt"))
    decoded = decode_images(
        blobs.withColumn("uri", F.col("doc_id").cast("string")),
        content_col="content",
        uri_col="uri",
    ).select(
        F.col("uri").cast("long").alias("doc_id"), "width", "height", "channels"
    )
    return sniffed.join(decoded, "doc_id").select(
        "doc_id", "fmt", "width", "height", "channels"
    )


@register(
    "d04e_tfidf",
    """
    with terms as (
      select doc_id as doc, unnest(string_split(lower(trim(text)), ' ')) as term
      from documents where doc_id < 100
    ), tf as (
      select doc, term, count(*) as tf from terms group by doc, term
    ), df_t as (
      select term, count(distinct doc) as df from tf group by term
    ), n as (select count(*) as n_docs from documents where doc_id < 100)
    select tf.doc, tf.term, tf.tf, df_t.df,
           round(tf.tf * (ln((n.n_docs + 1.0) / (df_t.df + 1.0)) + 1.0), 6) as tfidf
    from tf join df_t using (term) cross join n
    """,
    doc="TF-IDF as pure relational ops (explode + two aggs + broadcast join)",
)
def d04e(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import tfidf

    d = load(spark, sf, "documents").filter(F.col("doc_id") < 100)
    return tfidf(d, "doc_id", "text")


@register(
    "d02d_embedding_near_dup",
    # Candidates from the Python sign-LSH model over corpus + planted
    # copies; DuckDB reconstructs the planted vectors and verifies cosine.
    pyoracle.embedding_neardup_sql,
    doc="embedding-cosine near-dup pairs (LSH candidates + exact verify)",
)
def d02d(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import embedding_near_dup_pairs

    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    # Random embeddings almost never exceed cosine 0.9, so plant
    # deterministic perturbed copies of the first 20 vectors — the operator
    # must recover (orig, planted) pairs, making this a real recall check
    # rather than a vacuous 0-row pass.
    planted = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.02 + 0.003).cast("float")
        ).alias("embedding"),
    )
    return embedding_near_dup_pairs(
        e.unionByName(planted), threshold=0.9, num_planes=16, bands=8
    ).select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


@register(
    "d02g_semantic_dedup",
    # Pure-SQL oracle: same deterministic seed-vector quantizer (first 8
    # corpus vectors), same within-cell pairing and keep-lowest-id rule —
    # DuckDB recomputes the whole pipeline with list_cosine_similarity.
    """
    with base as (
      select vec_id, list_transform(embedding, x -> cast(x as double)) as vd
      from embeddings
    ),
    planted as (
      select vec_id + 1000000 as vec_id,
             list_transform(embedding,
               x -> cast(cast(cast(x as double) * 1.02 + 0.003 as float) as double)) as vd
      from embeddings where vec_id < 20
    ),
    v as (select * from base union all select * from planted),
    c as (select vec_id as cell, vd as center from base where vec_id < 8),
    scored as (
      select v.vec_id, v.vd, c.cell,
             row_number() over (
               partition by v.vec_id
               order by list_cosine_similarity(v.vd, c.center) desc, c.cell
             ) as rn
      from v cross join c
    ),
    assigned as (select vec_id, vd, cell from scored where rn = 1),
    dropped as (
      select distinct b.vec_id
      from assigned a
      join assigned b on a.cell = b.cell and a.vec_id < b.vec_id
      where list_cosine_similarity(a.vd, b.vd) >= 0.9
    )
    select vec_id from v
    where vec_id not in (select vec_id from dropped)
    """,
    doc="SemDeDup-style semantic dedup (arXiv:2303.09540): seed-vector "
    "coarse quantizer, within-cell cosine pairs, keep-lowest-id survivors; "
    "planted perturbed copies must be dropped (real recall, not a 0-row pass)",
)
def d02g(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import semantic_dedup

    e = load(spark, sf, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * 1.02 + 0.003).cast("float")
        ).alias("embedding"),
    )
    corpus = e.unionByName(planted)
    out = semantic_dedup(
        corpus,
        threshold=0.9,
        nlist=8,
        centroids=_ivf_seed_centroids(e, 8),
    )
    return out.select("vec_id")


def _ivf_seed_centroids(emb, nlist: int):
    """Deterministic coarse quantizer: the first ``nlist`` corpus vectors
    (by vec_id) as centroids, cast to double — fully reproducible, so the
    IVF candidate generation is modelable (pyoracle.ivf_candidates) and
    the exact re-rank oracle-checkable."""
    return emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )


@register(
    "d03c_ivf_topk",
    pyoracle.ivf_topk_sql,
    doc="IVF ANN top-5 (deterministic seed-vector quantizer; candidates "
    "from the independent Python model, DuckDB exact cosine re-rank)",
)
def d03c(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import ivf_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(
        q, emb, k=5, nlist=8, nprobe=4, centroids=_ivf_seed_centroids(emb, 8)
    ).select(
        "query_id", "match_id", F.round("score", 4).alias("score"), "rank"
    )


@register(
    "d03d_ivf_topk_kmeans",
    pyoracle.ivf_kmeans_topk_sql,
    doc="IVF (KMeans coarse quantizer) ANN top-5 — the trained-quantizer "
    "variant. The quantizer is the deterministic spherical Lloyd's fit "
    "on a bounded vec_id-ordered sample (driver-side float64 numpy, "
    "bit-reproducible; fit_quantizer_sample — Spark ML KMeans' "
    "cross-partition reduction order is not), so the full pipeline is "
    "oracle-checkable: candidates from the independent Python probe "
    "model over the SAME fitted centroids, DuckDB exact cosine re-rank, "
    "4dp round-before-rank on both sides",
)
def d03d(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import (
        fit_quantizer_sample,
        ivf_topk,
    )

    emb = load(spark, sf, "embeddings")
    cents = fit_quantizer_sample(emb, k=8, max_train_rows=100_000, iters=10)
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(
        q, emb, k=5, nlist=8, nprobe=4, centroids=cents, score_round=4
    ).select("query_id", "match_id", "score", "rank")


@register(
    "d06b_quantize_int8",
    """
    select vec_id,
           round(list_max(list_transform(embedding, x -> abs(cast(x as double)))) / 127.0, 6)
             as scale_r,
           len(embedding) as dim
    from embeddings
    """,
    doc="int8 quantization scale derivation (oracle checks the scale math)",
)
def d06b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import quantize_int8

    e = load(spark, sf, "embeddings")
    q = quantize_int8(e, "embedding")
    return q.select(
        "vec_id",
        F.round("embedding_scale", 6).alias("scale_r"),
        F.size("embedding").alias("dim"),
    )


@register(
    "d06c_corpus_embedding_stats",
    """
    select label,
           count(*) as n_vectors,
           round(avg(norm), 4) as mean_norm,
           round(min(norm), 4) as min_norm,
           round(max(norm), 4) as max_norm,
           max(dim) as dim
    from (
      select label,
             sqrt(list_sum(list_transform(embedding,
                  x -> cast(x as double) * cast(x as double)))) as norm,
             len(embedding) as dim
      from embeddings) t
    group by label
    """,
    doc="per-label corpus embedding statistics (one agg pass)",
)
def d06c(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import corpus_embedding_stats

    e = load(spark, sf, "embeddings")
    return corpus_embedding_stats(e, "embedding", by="label")


@register(
    "d04i_redact_pii",
    """
    with planted as (
      select doc_id,
             case when doc_id % 10 = 0
                  then text || ' contact user' || cast(doc_id as varchar)
                       || '@example.com or 555-123-4567 ssn 123-45-6789'
                  else text end as text
      from documents
    )
    select doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'),
             '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') as text
    from planted
    """,
    doc="PII redaction pass (emails/SSN/phone shapes) over a corpus with "
    "deterministically planted PII — oracle replays the same regex chain",
)
def d04i(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import redact_pii

    d = load(spark, sf, "documents").select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 ssn 123-45-6789"),
            ),
        ).otherwise(F.col("text")),
    )
    return redact_pii(planted, "text")


@register(
    "d04j_repetition_stats",
    """
    with toks as (
      select doc_id, string_split(lower(trim(text)), ' ') as ws from documents
    ),
    g as (
      select doc_id,
        list_transform(range(1, greatest(len(ws) - 1, 1) + 1),
                       i -> array_to_string(list_slice(ws, i, i + 1), ' ')) as g2,
        list_transform(range(1, greatest(len(ws) - 4, 1) + 1),
                       i -> array_to_string(list_slice(ws, i, i + 4), ' ')) as g5
      from toks
    )
    select doc_id,
      case when nw < 2 then 0.0 else
        round(list_max(list_transform(list_distinct(g2),
                       d -> len(list_filter(g2, x -> x = d))))
              / greatest(len(g2), 1), 6) end as top_2gram_frac,
      case when nw < 5 then 0.0 else
        round(1 - len(list_distinct(g5)) / greatest(len(g5), 1), 6) end
        as dup_5gram_frac
    from (select *, len(ws) as nw from toks) t
    join g using (doc_id)
    """,
    doc="Gopher-style repetition filters: top-2-gram occupancy and "
    "duplicate-5-gram fraction per document (pure array expressions)",
)
def d04j(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import repetition_stats

    d = load(spark, sf, "documents")
    return repetition_stats(d, "text").select(
        "doc_id", "top_2gram_frac", "dup_5gram_frac"
    )


@register(
    "d04h_data_mixture",
    """
    select doc_id, lang
    from documents
    where (('0x' || substr(md5('mix' || cast(doc_id as varchar)), 1, 8))::ubigint
           % 10000)
          < 10000 * (case lang when 'en' then 0.5
                               when 'zh' then 1.0
                               else 0.25 end)
    """,
    doc="training-data mixture sampling: deterministic md5-bucket keep "
    "fraction per language stratum — a pure filter, reproducible across "
    "engines, monotone in the weights",
)
def d04h(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import mixture_sample

    d = load(spark, sf, "documents")
    return mixture_sample(
        d, {"en": 0.5, "zh": 1.0}, stratum_col="lang", id_col="doc_id",
        default_weight=0.25,
    ).select("doc_id", "lang")


@register(
    "d04g_sequence_pack",
    """
    with t as (
      select doc_id, len(string_split(trim(text), ' ')) as ntok
      from documents
    ),
    o as (
      select doc_id, ntok,
             coalesce(sum(ntok) over (order by doc_id
                      rows between unbounded preceding and 1 preceding), 0)
               as off
      from t
    )
    select cast(floor(off / 2048) as bigint) as chunk_id,
           count(*) as n_docs,
           cast(sum(ntok) as bigint) as total_tokens,
           min(doc_id) as first_doc,
           max(doc_id) as last_doc
    from o group by 1
    """,
    doc="sequence packing: docs assigned to fixed 2048-token chunks by "
    "exclusive prefix token count (distributed two-pass prefix sum)",
)
def d04g(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import pack_sequences

    d = load(spark, sf, "documents")
    return pack_sequences(d, "doc_id", "text", budget=2048)


@register(
    "d04f_filter_corpus",
    f"""
    with q as (
      select doc_id, lang, n_words, {_QUALITY_EXPR} as quality_score,
             md5(text) as h
      from ({_STATS_SQL})
    )
    select doc_id, lang, n_words, quality_score from q
    where n_words >= 10 and quality_score >= 0.3
    qualify row_number() over (partition by h order by doc_id) = 1
    """,
    doc="training-corpus filter pipeline: length + quality + lang + dedup",
)
def d04f(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import filter_corpus

    d = load(spark, sf, "documents")
    return filter_corpus(
        d, min_words=10, min_quality=0.3, langs=["en", "de", "fr", "es", "zh", "und"],
        dedup_exact=True,
    ).select("doc_id", "lang", "n_words", "quality_score")


# Shared by d07 (plain) and d26 (bloom-prefiltered — the screen adds no
# false negatives and the exact join drops false positives, so BOTH
# operators must produce exactly these rows).
_D07_SQL = """
    with toks as (
      select doc_id, string_split(lower(text), ' ') as ws from documents
    ),
    sh0 as (
      select doc_id, ws,
             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
      from toks
    ),
    sh as (
      select distinct doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') as s
      from sh0
    ),
    bench as (select distinct s from sh where doc_id % 20 = 0)
    select sh.doc_id, count(*) as shared_grams
    from sh join bench using (s)
    where sh.doc_id % 20 != 0
    group by sh.doc_id
    """


@register(
    "d07_decontaminate",
    _D07_SQL,
    doc="benchmark decontamination: corpus docs sharing any word 3-gram "
    "with the held-out 'benchmark' slice (doc_id % 20 = 0); benchmark gram "
    "set is broadcast — the corpus is never shuffled or self-joined",
)
def d07(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import ngram_contamination

    d = load(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    return ngram_contamination(
        corpus, bench, "doc_id", "text", shingle_size=3, min_overlap=1
    )


@register(
    "d26_decontaminate_bloom",
    _D07_SQL,
    doc="Bloom-prefiltered benchmark decontamination — d07's semantics "
    "with a 32 KB screening artifact: benchmark grams build a "
    "(word, bits) bloom relation; exploded corpus grams pass k=4 "
    "broadcast INT-joins (no strings move) and only survivors — true "
    "matches plus the false-positive sliver — pay the exact string "
    "equi-join. No false negatives by construction, so the oracle is "
    "d07's exact SQL verbatim: the screen must change NOTHING. The "
    "100 TB shape when the benchmark suite's gram set is itself too "
    "big to be the first thing every corpus gram probes",
)
def d26(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import ngram_contamination_bloom

    d = load(spark, sf, "documents")
    corpus = d.filter(F.col("doc_id") % 20 != 0)
    bench = d.filter(F.col("doc_id") % 20 == 0)
    return ngram_contamination_bloom(
        corpus, bench, "doc_id", "text", shingle_size=3, min_overlap=1,
        m_bits=1 << 16, k=4,
    )


@register(
    "d28_pagerank_fixed_point",
    pyoracle.pagerank_sql,
    doc="fixed-point integer PageRank (operators/graphrank.py) over the "
    "distinct customer→supplier purchase graph (orders ⋈ lineitem) — the "
    "domain-authority signal crawl pipelines use to weight sources. "
    "Float PageRank is not cross-engine reproducible (per-iteration sum "
    "order); here every rank is an exact scaled integer (contributions "
    "div outdeg, damping ×17 div 20, teleport and dangling mass in "
    "exact ints), each iteration one equi-join + one integer-sum agg — "
    "so 10 iterations exact-hash oracle against an independent Python "
    "model with NO float op anywhere (the query emits the exact scaled-"
    "integer ranks; the rounded-double form is for humans — rational "
    "ranks can land exactly on rounding half-boundaries)",
)
def d28(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.graphrank import pagerank_fixed_point

    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )
    return pagerank_fixed_point(edges, iters=10, raw_scaled=True).select(
        "node", "rank_scaled"
    )


@register(
    "d27_count_min_probe",
    pyoracle.cms_probe_sql,
    doc="count-min frequency sketch (operators/sketches.py): token-"
    "occurrence counts sketched into a depth=4 × width=4096 cell "
    "relation (mergeable by SUM, persistable), probed with doc 0's "
    "distinct tokens and shown beside the exact counts. Entirely "
    "integer — positions are xxhash64 chains, cells exact counts, the "
    "estimate a MIN — so it is bit-identical cross-engine with NO "
    "rounding contract, the strongest exactness class a sketch can "
    "have; the oracle recomputes the full sketch in Python",
)
def d27(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.sketches import cms_build, cms_estimate

    d = load(spark, sf, "documents")
    tok = F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
        "token"
    )
    toks = d.select(tok)
    cms = cms_build(toks, "token", width=1 << 12, depth=4)
    probes = d.filter(F.col("doc_id") == 0).select(tok).distinct()
    est = cms_estimate(probes, cms, "token", width=1 << 12, depth=4)
    exact = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return est.join(exact, "token").select("token", "est_count", "exact_count")


@register(
    "d04k_train_val_test_split",
    """
    select doc_id,
           case when b < 9800 then 'train'
                when b < 9900 then 'val'
                else 'test' end as split
    from (
      select doc_id,
             ('0x' || substr(md5('split' || cast(doc_id as varchar)), 1, 8))::ubigint
             % 10000 as b
      from documents
    )
    """,
    doc="deterministic train/val/test assignment (98/1/1): md5-bucket vs "
    "cumulative cutoffs — pure projection, no shuffle, engine-reproducible, "
    "and stable under fraction changes (cumulative cutoffs only move docs "
    "across adjacent splits)",
)
def d04k(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import train_val_test_split

    d = load(spark, sf, "documents")
    return train_val_test_split(
        d, (0.98, 0.01, 0.01), id_col="doc_id", salt="split"
    ).select("doc_id", "split")


@register(
    "d04l_ngram_counts",
    """
    with toks as (
      select doc_id, string_split(lower(trim(text)), ' ') as ws from documents
    ),
    g as (
      select doc_id, array_to_string(list_slice(ws, i, i + 1), ' ') as gram
      from (
        select doc_id, ws, unnest(range(1, len(ws) - 2 + 2)) as i
        from toks where len(ws) >= 2
      )
    )
    select gram, count(*) as n_occurrences,
           count(distinct doc_id) as n_docs
    from g group by gram
    order by n_occurrences desc, gram limit 100
    """,
    doc="corpus-wide top-100 word 2-grams by occurrence (boilerplate / "
    "contamination analysis); explode -> one partial-combining hash agg -> "
    "TakeOrdered top-k, deterministic gram tie-break",
)
def d04l(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import ngram_counts

    d = load(spark, sf, "documents")
    return ngram_counts(d, "text", n=2, k=100)


@register(
    "d04m_cross_doc_dup_ngrams",
    """
    with toks as (
      select doc_id, string_split(lower(trim(text)), ' ') as ws from documents
    ),
    g as (
      select doc_id, array_to_string(list_slice(ws, i, i + 2), ' ') as gram
      from (
        select doc_id, ws, unnest(range(1, len(ws) - 3 + 2)) as i
        from toks where len(ws) >= 3
      )
    ),
    pdg as (select doc_id, gram, count(*) as occ from g group by 1, 2),
    shared as (
      select gram from pdg group by gram having count(distinct doc_id) > 1
    ),
    tot as (select doc_id, sum(occ) as t from pdg group by 1),
    dup as (
      select pdg.doc_id, sum(occ) as d
      from pdg join shared using (gram) group by 1
    )
    select docs.doc_id,
           cast(coalesce(round(dup.d / tot.t, 6), 0.0) as double)
             as dup_ngram_frac
    from documents docs
    left join tot on tot.doc_id = docs.doc_id
    left join dup on dup.doc_id = docs.doc_id
    """,
    doc="per-doc fraction of 3-gram occurrences shared with another doc — "
    "cross-document Gopher duplicate-n-gram signal (d04j covers the "
    "intra-doc form); shared-gram table shrinks before the join back",
)
def d04m(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import cross_doc_dup_ngram_frac

    d = load(spark, sf, "documents")
    return cross_doc_dup_ngram_frac(d, "doc_id", "text", n=3)


@register(
    "c09_stream_ingest_exactly_once",
    """
    select event_id, event_type, value from events
    """,
    doc="true Structured Streaming ingest into the managed store: file "
    "source over the events parquet -> foreachBatch exactly-once append "
    "(batch id rides the atomic manifest flip) -> read back; the managed "
    "table must equal the batch relation exactly (no loss, no dupes)",
)
def c09(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_append_to_store

    import os as _os

    tmp = _tf.mkdtemp(prefix="bds_c09_")
    store = TableStore(tmp, "ev", spark)
    # The file streaming source requires a DIRECTORY; stage the single
    # parquet file behind a symlink (no data copy). Schema from the batch
    # read; ts column excluded — its nanos conversion is a batch-side
    # rewrite, and this query targets the ingest path, not the column.
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    _os.symlink(f"{sf}/events.parquet", _os.path.join(drop, "events.parquet"))
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(drop)
        .select("event_id", "event_type", "value")
    )
    q = stream_append_to_store(stream, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read()


@register(
    "c10_stream_stream_interval_join",
    """
    select c.event_id as click_id, p.event_id as purchase_id,
           c.user_id as user_id, round(p.value, 4) as purchase_value
    from events c join events p on p.user_id = c.user_id
    where c.event_type = 'click' and p.event_type = 'purchase'
      and p.ts >= c.ts and p.ts <= c.ts + interval 1 hour
    """,
    doc="true stream-stream event-time interval join (click -> purchase "
    "by the same user within 1 hour): two file streams, watermarks + "
    "range condition bound the join state, exactly-once foreachBatch "
    "sink; result must equal the batch interval join exactly",
)
def c10(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import (
        stream_append_to_store,
        stream_interval_join,
    )

    tmp = _tf.mkdtemp(prefix="bds_c10_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    _os.symlink(f"{sf}/events.parquet", _os.path.join(drop, "events.parquet"))
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema

    from pyspark.sql import types as T

    ts_is_long = isinstance(raw_schema["ts"].dataType, T.LongType)

    def src():
        s = spark.readStream.schema(raw_schema).parquet(drop)
        # events.ts is parquet TIMESTAMP(NANOS): depending on the session's
        # nanosAsLong conf it surfaces as long (convert to micros exactly
        # as the batch loader does) or as a timestamp already.
        if ts_is_long:
            s = s.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        # Watermarks need TIMESTAMP (ltz), not NTZ; session tz is UTC so
        # the cast is a deterministic relabel, comparisons unchanged.
        return s.withColumn("ts", F.col("ts").cast("timestamp"))

    clicks = (
        src()
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        src()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            "value",
        )
    )
    joined = stream_interval_join(
        clicks, purchases, "user_id", "click_ts", "purchase_ts",
        max_delay="1 hour", watermark="35 days",
    ).select(
        "click_id", "purchase_id", "user_id",
        F.round("value", 4).alias("purchase_value"),
    )
    store = TableStore(tmp, "attrib", spark)
    q = stream_append_to_store(joined, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read()


@register(
    "c11_stream_upsert_aggregate",
    """
    select user_id, count(*) as n_events,
           round(sum(value), 4) as total_value
    from events group by user_id
    """,
    doc="update-mode streaming aggregation into a managed-table UPSERT "
    "sink: per-user running counts merge on unique_on each micro-batch "
    "(exactly-once batch-id contract); the final table must equal the "
    "batch group-by exactly",
)
def c11(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    tmp = _tf.mkdtemp(prefix="bds_c11_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    _os.symlink(f"{sf}/events.parquet", _os.path.join(drop, "events.parquet"))
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    agg = (
        spark.readStream.schema(raw_schema)
        .parquet(drop)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    store = TableStore(tmp, "user_stats", spark)
    store.configure(unique_on="user_id")
    q = stream_upsert_to_store(agg, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read().select("user_id", "n_events", "total_value")


@register(
    "d10_corpus_drift",
    """
    with a as (select * from documents where doc_id % 2 = 0),
         b as (select * from documents where doc_id % 2 = 1),
    ga as (select lang as stratum, count(*) as n_a from a group by lang),
    gb as (select lang as stratum, count(*) as n_b from b group by lang),
    ta as (select count(*) as tot_a from a),
    tb as (select count(*) as tot_b from b),
    m as (
      select coalesce(ga.stratum, gb.stratum) as stratum,
             coalesce(n_a, 0) as n_a, coalesce(n_b, 0) as n_b
      from ga full outer join gb on ga.stratum = gb.stratum
    )
    select stratum, n_a, n_b,
           round(n_a / tot_a, 6) as frac_a,
           round(n_b / tot_b, 6) as frac_b,
           round(abs(round(n_a / tot_a, 6) - round(n_b / tot_b, 6)), 6)
             as abs_diff
    from m, ta, tb
    """,
    doc="corpus snapshot drift monitor: per-language counts/fractions of "
    "two halves of the corpus + absolute fraction shift (TV distance = "
    "sum/2) — the dataset-versioning diff",
)
def d10(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import corpus_drift

    d = load(spark, sf, "documents")
    return corpus_drift(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        "lang",
    )


@register(
    "d04s_quality_weighted_sample",
    f"""
    with q as (
      select doc_id, {_QUALITY_EXPR} as quality_score
      from ({_STATS_SQL})
    )
    select doc_id, quality_score from q
    where (('0x' || substr(md5('qws' || cast(doc_id as varchar)), 1, 8))::ubigint
           % 10000) / 10000.0 < power(quality_score, 2.0)
    """,
    doc="quality-weighted importance sampling (keep with probability "
    "~ quality^2): deterministic md5-uniform vs the heuristic quality "
    "score — a pure filter, no RNG state, reproducible across engines",
)
def d04s(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import (
        quality_score,
        quality_weighted_sample,
    )

    d = load(spark, sf, "documents")
    q = quality_score(d, "text")
    return quality_weighted_sample(q, alpha=2.0).select(
        "doc_id", "quality_score"
    )


@register(
    "d04r_trained_quality_filter",
    None,  # LogisticRegression training is not bit-reproducible across
    # engines (float reduction order) — rows-only; separability and the
    # no-UDF scoring plan are pytest-asserted
    # (test_quality_classifier_separates_planted_classes).
    doc="fastText-style trained quality filter: hashed-BoW logistic "
    "regression trained on weak labels (heuristic quality_score median "
    "split), corpus scored JVM-side; rows-only by design",
)
def d04r(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )
    from basis_devkit_spark.operators.text import quality_score

    d = load(spark, sf, "documents").select("doc_id", "text")
    q = quality_score(d, "text")
    med = q.approxQuantile("quality_score", [0.5], 0.01)[0]
    labeled = q.select(
        "doc_id", "text",
        (F.col("quality_score") >= med).cast("int").alias("label"),
    )
    model = train_quality_classifier(labeled, "text", "label", max_iter=10)
    return score_quality(model, labeled.select("doc_id", "text")).select(
        "doc_id", "quality_prob"
    )


@register(
    "d04q_drop_repeated_lines",
    """
    with p as (
      select doc_id,
             case when doc_id % 3 = 0
                  then text || chr(10) || 'subscribe to our newsletter for updates'
                  else text end as text
      from documents
    ),
    l as (
      select doc_id,
             unnest(string_split(text, chr(10))) as line,
             generate_subscripts(string_split(text, chr(10)), 1) as pos
      from p
    ),
    rep as (select line from l group by line having count(*) > 1),
    kept as (select * from l where line not in (select line from rep)),
    packed as (
      select doc_id, string_agg(line, chr(10) order by pos) as text2
      from kept group by doc_id
    )
    select p.doc_id, coalesce(k.text2, '') as text2
    from p left join packed k on p.doc_id = k.doc_id
    """,
    doc="C4-style corpus-level repeated-line removal: a footer planted on "
    "every third doc (and any exactly-duplicated body line) must be "
    "stripped, unique lines survive in order, fully-dropped docs keep ''",
)
def d04q(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import drop_repeated_lines

    d = load(spark, sf, "documents").select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit("\nsubscribe to our newsletter for updates"),
            ),
        ).otherwise(F.col("text")),
    )
    out = drop_repeated_lines(planted, "doc_id", "text", max_occurrences=1)
    return out.select("doc_id", F.col("text").alias("text2"))


@register(
    "c12_stream_neardup_collapse",
    pyoracle.stream_neardup_sql,
    doc="streaming near-dup collapse: per-row MinHash signatures "
    "(shuffle-free projection, works unchanged on a streaming DF) hashed "
    "into a group key, update-mode min-id + member-count aggregation, "
    "exactly-once UPSERT into a managed table — the final table must "
    "equal the batch signature group-by; planted copies (2nd micro-batch "
    "file) must collapse onto their originals",
)
def c12(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.dedup import minhash_signatures
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    tmp = _tf.mkdtemp(prefix="bds_c12_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    _os.symlink(f"{sf}/documents.parquet", _os.path.join(drop, "b0.parquet"))
    d = spark.read.parquet(f"{sf}/documents.parquet")
    planted = d.filter(F.col("doc_id") < 10).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    pdir = _os.path.join(tmp, "planted")
    planted.coalesce(1).write.parquet(pdir)
    for i, f in enumerate(_glob.glob(_os.path.join(pdir, "part-*.parquet"))):
        _shutil.copy(f, _os.path.join(drop, f"b1_{i}.parquet"))
    stream = spark.readStream.schema(d.schema).parquet(drop)
    sig = minhash_signatures(stream, "doc_id", "text")
    key = F.xxhash64(
        F.concat_ws(",", F.transform("sig", lambda x: x.cast("string")))
    )
    agg = (
        sig.select("doc_id", key.alias("sig_key"))
        .groupBy("sig_key")
        .agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )
    store = TableStore(tmp, "collapsed", spark)
    store.configure(unique_on="sig_key")
    q = stream_upsert_to_store(agg, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read().select("sig_key", "rep_id", "n_members")


@register(
    "d04n_token_budget_sample",
    """
    with t as (
      select doc_id, lang,
             len(string_split(lower(trim(text)), ' ')) as tokens,
             ('0x' || substr(md5('tok' || cast(doc_id as varchar)), 1, 8))::ubigint
               as prio
      from documents
    ), c as (
      select doc_id, lang, tokens,
             coalesce(sum(tokens) over (partition by lang order by prio, doc_id
                                        rows between unbounded preceding
                                        and 1 preceding), 0) as cum_before
      from t
    )
    select doc_id, lang, tokens from c
    where (lang = 'en' and cum_before < 5000)
       or (lang = 'zh' and cum_before < 2000)
    """,
    doc="token-budget mixture sampling (budgets in TOKENS, not documents): "
    "md5-priority greedy fill per stratum via the bucketed two-pass prefix "
    "sum (no one-task-per-stratum window); keep iff the doc STARTS within "
    "budget; strata without budgets drop",
)
def d04n(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import token_budget_sample

    d = load(spark, sf, "documents")
    return token_budget_sample(
        d, {"en": 5000, "zh": 2000}, stratum_col="lang", id_col="doc_id"
    ).select("doc_id", "lang", "tokens")


@register(
    "d04o_chunk_documents",
    """
    with t as (
      select doc_id, string_split(lower(trim(text)), ' ') as ws,
             len(string_split(lower(trim(text)), ' ')) as n
      from documents
    ), nc as (
      select doc_id, ws, n,
             case when n <= 40 then 1
                  else cast(ceil((n - 40) / 30.0) as int) + 1 end as n_chunks
      from t
    ), ex as (
      select doc_id, unnest(range(0, n_chunks)) as chunk_id, ws
      from nc
    )
    select doc_id, cast(chunk_id as int) as chunk_id,
           array_to_string(list_slice(ws, chunk_id * 30 + 1,
                                      chunk_id * 30 + 40), ' ') as chunk_text,
           len(list_slice(ws, chunk_id * 30 + 1, chunk_id * 30 + 40))
             as n_tokens
    from ex
    """,
    doc="overlapping token-window chunking (chunk 40, overlap 10, stride "
    "30) — embedding/RAG preprocessing as a pure projection + posexplode",
)
def d04o(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import chunk_documents

    d = load(spark, sf, "documents")
    return chunk_documents(d, "doc_id", "text", chunk_tokens=40, overlap=10)


@register(
    "d04p_normalize_text",
    r"""
    with n as (
      select doc_id, length(text) as n_chars_raw,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
                                 '\s+', ' ', 'g')) as norm_text
      from documents
    )
    select doc_id, n_chars_raw, norm_text,
           length(norm_text) as n_chars_norm
    from n
    """,
    doc="canonical text normalization (lowercase, strip non-alnum, "
    "collapse whitespace) — the dedup/fingerprint pre-pass, pure column "
    "expressions",
)
def d04p(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import normalize_text

    d = load(spark, sf, "documents")
    return normalize_text(d, "text").select(
        "doc_id", "n_chars_raw", "norm_text", "n_chars_norm"
    )


@register(
    "d08_stratified_sample",
    """
    with ranked as (
      select source, doc_id, n_chars,
             row_number() over (
               partition by source
               order by md5('strat' || cast(doc_id as varchar)), doc_id
             ) as sample_rank
      from documents)
    select source, doc_id, n_chars, cast(sample_rank as int) as sample_rank
    from ranked where sample_rank <= 5
    """,
    doc="deterministic stratified sample: 5 docs per source in salted-md5 "
    "priority order — reproducible eval-slice / mixture-preview sampling; "
    "two-phase top-k agg, no per-group window reducer",
)
def d08(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import stratified_sample

    d = load(spark, sf, "documents").select("source", "doc_id", "n_chars")
    return stratified_sample(d, "source", 5).select(
        "source", "doc_id", "n_chars", F.col("sample_rank").cast("int").alias("sample_rank")
    )


@register(
    "d02f_chunk_dedup",
    """
    with src as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id, text from documents
      where doc_id < 25
    ), t as (
      select doc_id, string_split(lower(trim(text)), ' ') as ws,
             len(string_split(lower(trim(text)), ' ')) as n
      from src
    ), nc as (
      select doc_id, ws, n,
             case when n <= 40 then 1
                  else cast(ceil((n - 40) / 30.0) as int) + 1 end as n_chunks
      from t
    ), ex as (
      select doc_id, unnest(range(0, n_chunks)) as chunk_id, ws from nc
    ), chunks as (
      select doc_id, cast(chunk_id as int) as chunk_id,
             array_to_string(list_slice(ws, chunk_id * 30 + 1,
                                        chunk_id * 30 + 40), ' ') as chunk_text
      from ex
    )
    select doc_id, chunk_id, chunk_text from (
      select doc_id, chunk_id, chunk_text,
             row_number() over (partition by chunk_text
                                order by doc_id, chunk_id) as rn
      from chunks
    ) where rn = 1
    """,
    doc="chunk-level exact dedup over chunked docs + planted clones "
    "(doc_id+1e6 copies of the first 25 docs): every clone chunk must lose "
    "to its original — composes chunk_documents with keep-first dedup; "
    "non-vacuous by construction",
)
def d02f(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import exact_dedup
    from basis_devkit_spark.operators.text import chunk_documents

    d = load(spark, sf, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    chunks = chunk_documents(
        d.unionByName(planted), "doc_id", "text", chunk_tokens=40, overlap=10
    ).select("doc_id", "chunk_id", "chunk_text")
    kept = exact_dedup(
        chunks.withColumn(
            "__ord", F.col("doc_id") * 10_000 + F.col("chunk_id")
        ),
        keys=["chunk_text"],
        order_by="__ord",
        keep="first",
    )
    return kept.select("doc_id", "chunk_id", "chunk_text")


@register(
    "d05c_byte_histogram",
    r"""
    with blobs as (
      select doc_id,
             case doc_id % 3
               when 0 then '\x89PNG\x0D\x0A\x1A\x0A'::blob
               when 1 then '\xFF\xD8\xFF\xE0'::blob
               else 'RIFF'::blob
             end || encode(text) as content
      from documents where doc_id < 200
    ), h as (
      select doc_id, hex(content) as hx, octet_length(content) as n_bytes
      from blobs
    ), arrs as (
      select doc_id, n_bytes,
             list_transform(range(0, n_bytes),
                            i -> substr(hx, cast(i*2+1 as int), 2)) as bytes
      from h
    )
    select doc_id, n_bytes,
           len(list_distinct(bytes)) as distinct_bytes,
           list_max(list_transform(list_distinct(bytes),
                    d -> len(list_filter(bytes, x -> x = d)))) as top_byte_freq
    from arrs
    """,
    doc="byte-level feature extraction on a BINARY column (per-blob byte "
    "histogram stats: distinct bytes + modal byte frequency) — the "
    "decode-free half of multimodal feature extraction, all JVM-side hex/"
    "array expressions, replayed exactly by DuckDB",
)
def d05c(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    hdr = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit(bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A])),
        )
        .when(F.col("doc_id") % 3 == 1, F.lit(b"\xff\xd8\xff\xe0"))
        .otherwise(F.lit(b"RIFF"))
    )
    blobs = d.select(
        "doc_id", F.concat(hdr, F.encode("text", "utf-8")).alias("content")
    )
    # materialize hex + byte array ONCE per row in their own projections
    # (HOFs run interpreted — an inlined hex()/transform() re-evaluates
    # over the whole blob for every lambda element, O(n²) per doc), and
    # take the modal byte frequency as the longest equal-run of the
    # SORTED byte array — one O(n log n) sort + linear fold instead of
    # the O(distinct × n) filter scan (the d04j repetition_stats shape).
    hexed = blobs.select(
        "doc_id",
        F.length("content").cast("long").alias("n_bytes"),
        F.hex("content").alias("__hx"),
    )
    arred = hexed.select(
        "doc_id",
        "n_bytes",
        F.transform(
            F.sequence(F.lit(0), F.col("n_bytes").cast("int") - 1),
            lambda i: F.substring(F.col("__hx"), i * 2 + 1, 2),
        ).alias("__arr"),
    )
    run = F.aggregate(
        F.array_sort(F.col("__arr")),
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
    return arred.select(
        "doc_id",
        "n_bytes",
        F.size(F.array_distinct("__arr")).cast("long").alias("distinct_bytes"),
        run.cast("long").alias("top_byte_freq"),
    )


@register(
    "d06d_normalize_embeddings",
    """
    with n as (
      select vec_id,
             sqrt(list_sum(list_transform(embedding,
                   x -> cast(x as double) * cast(x as double)))) as l2
      from embeddings
    )
    select e.vec_id,
           round(cast(e.embedding[1] as double) / n.l2, 6) as first_comp,
           round(sqrt(list_sum(list_transform(e.embedding,
                 x -> (cast(x as double) / n.l2) * (cast(x as double) / n.l2)))), 4)
             as unit_norm
    from embeddings e join n on n.vec_id = e.vec_id
    """,
    doc="L2 normalization of the embedding column: normalized first "
    "component + the norm of the normalized vector (must be 1.0)",
)
def d06d(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import normalize_embeddings

    e = load(spark, sf, "embeddings")
    nn = normalize_embeddings(e, "embedding", out_col="nv")
    from basis_devkit_spark.operators.similarity import _norm

    return nn.select(
        "vec_id",
        F.round(F.element_at("nv", 1), 6).alias("first_comp"),
        F.round(_norm(F.col("nv")), 4).alias("unit_norm"),
    )


@register(
    "d09_salted_agg",
    """
    select event_type,
           count(value) as count_value,
           round(sum(value), 4) as sum_r,
           round(min(value), 4) as min_r,
           round(max(value), 4) as max_r
    from events group by event_type
    """,
    doc="skew-salted two-phase aggregation: partial agg on (key, salt) "
    "spreads a hot key over N reducers, final agg merges — results must "
    "equal the plain group-by exactly (decomposable aggregates)",
)
def d09(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.skew import salted_agg

    e = load(spark, sf, "events")
    out = salted_agg(
        e, ["event_type"], {"value": "count"}, salt=16
    ).join(
        salted_agg(e, ["event_type"], {"value": "sum"}, salt=16), "event_type"
    ).join(
        salted_agg(e, ["event_type"], {"value": "min"}, salt=16), "event_type"
    ).join(
        salted_agg(e, ["event_type"], {"value": "max"}, salt=16), "event_type"
    )
    return out.select(
        "event_type",
        "count_value",
        F.round("sum_value", 4).alias("sum_r"),
        F.round("min_value", 4).alias("min_r"),
        F.round("max_value", 4).alias("max_r"),
    )


@register(
    "d04t_gopher_rules",
    r"""
    with w as (
      select doc_id,
             regexp_split_to_array(trim(text), '\s+') as words,
             string_split(text, chr(10)) as lines,
             length(text) - length(regexp_replace(text, '#', '', 'g')) as n_hash,
             (length(text) - length(regexp_replace(text, '\.\.\.', '', 'g'))) / 3.0
               as n_ellipsis
      from documents
    ), s as (
      select doc_id, words,
             greatest(len(words), 1) as nw,
             greatest(len(lines), 1) as nl,
             n_hash, n_ellipsis,
             list_sum(list_transform(words, x -> length(x))) as word_chars,
             len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) as n_alpha,
             len(list_filter(lines,
                 x -> starts_with(x, '- ') or starts_with(x, '* ')
                      or starts_with(x, '•'))) as n_bullet,
             len(list_filter(lines, x -> x like '%...')) as n_ell_lines,
             (cast(list_contains(list_transform(words, x -> lower(x)), 'the') as int)
              + cast(list_contains(list_transform(words, x -> lower(x)), 'a') as int))
               as stop_count
      from w
    ), f as (
      select doc_id,
             cast(len(words) as int) as n_words,
             floor(word_chars / nw * 1000000.0 + 0.5) / 1000000.0 as mean_word_len,
             len(words) between 50 and 100000 as ok_word_count,
             floor(word_chars / nw * 1000000.0 + 0.5) / 1000000.0 between 3.0 and 10.0
               as ok_mean_word_len,
             (n_hash + n_ellipsis) / nw <= 0.1 as ok_symbol_ratio,
             n_bullet / cast(nl as double) <= 0.9 as ok_bullet_lines,
             n_ell_lines / cast(nl as double) <= 0.3 as ok_ellipsis_lines,
             n_alpha / cast(nw as double) >= 0.8 as ok_alpha_words,
             stop_count >= 2 as ok_stopwords
      from s
    )
    select *,
           (ok_word_count and ok_mean_word_len and ok_symbol_ratio
            and ok_bullet_lines and ok_ellipsis_lines and ok_alpha_words
            and ok_stopwords) as passes_gopher
    from f
    """,
    doc="Gopher quality-rule repertoire (Rae et al. 2021 §A1.1): word-count "
    "bounds, mean word length, symbol-to-word ratio, bullet/ellipsis line "
    "fractions, alphabetic-word fraction, required stop words — each a "
    "named boolean flag plus the conjunction; one UDF-free projection. "
    "Stop-word list configured for the synthetic corpus ('the','a' — the "
    "paper's English-prose list never fires on word-soup text, which "
    "would make the conjunction trivially false)",
)
def d04t(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import gopher_rules

    d = load(spark, sf, "documents").select("doc_id", "text")
    return gopher_rules(d, "text", stopwords=["the", "a"]).select(
        "doc_id", "n_words", "mean_word_len",
        "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
        "ok_bullet_lines", "ok_ellipsis_lines", "ok_alpha_words",
        "ok_stopwords", "passes_gopher",
    )


@register(
    "e01_sessionize",
    """
    with o as (
      select user_id, event_id, ts,
             lag(ts) over (partition by user_id order by ts, event_id) as prev_ts
      from events
    ), f as (
      select user_id, event_id, ts,
             case when prev_ts is null or ts - prev_ts > interval 30 minute
                  then 1 else 0 end as ns
      from o
    ), s as (
      select user_id, ts,
             cast(sum(ns) over (partition by user_id order by ts, event_id
                                rows unbounded preceding) as int) as session_seq
      from f
    )
    select user_id, session_seq, count(*) as n_events,
           min(ts) as session_start, max(ts) as session_end,
           epoch_us(cast(max(ts) as timestamp))
             - epoch_us(cast(min(ts) as timestamp)) as duration_us
    from s group by user_id, session_seq
    """,
    doc="gap-based sessionization (30-min inactivity): lag + running sum "
    "per user, then per-session roll-up — one shuffle on the user key, "
    "bounded per-user window state; interval comparison keeps sub-second "
    "precision identical across engines",
)
def e01(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import session_stats

    ev = load(spark, sf, "events")
    return session_stats(ev, gap_minutes=30)


@register(
    "e02_funnel",
    """
    with s1 as (
      select user_id, min(ts) as t from events
      where event_type = 'view' group by user_id
    ), s2 as (
      select e.user_id, min(e.ts) as t
      from events e join s1 on e.user_id = s1.user_id and e.ts > s1.t
      where e.event_type = 'click' group by e.user_id
    ), s3 as (
      select e.user_id, min(e.ts) as t
      from events e join s2 on e.user_id = s2.user_id and e.ts > s2.t
      where e.event_type = 'purchase' group by e.user_id
    )
    select cast(1 as int) as step, 'view' as event_type,
           (select count(*) from s1) as users
    union all
    select cast(2 as int), 'click', (select count(*) from s2)
    union all
    select cast(3 as int), 'purchase', (select count(*) from s3)
    """,
    doc="strictly-ordered funnel view→click→purchase in one scan: each "
    "user's sorted (ts, event) array is folded by an aggregate-HOF step "
    "machine that meets each step's earliest qualifying event first, then "
    "one global count per step — two exchanges, no joins",
)
def e02(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import funnel

    ev = load(spark, sf, "events")
    return funnel(ev, ["view", "click", "purchase"])


@register(
    "e03_retention_cohorts",
    """
    with first as (
      select user_id, cast(date_trunc('week', min(ts)) as date) as cohort
      from events group by user_id
    ), act as (
      select distinct user_id, cast(ts as date) as day from events
    )
    select cohort,
           cast(floor(date_diff('day', cohort, day) / 7.0) as int)
             as period_offset,
           count(distinct a.user_id) as n_users
    from act a join first f on a.user_id = f.user_id
    group by cohort, period_offset
    """,
    doc="weekly retention cohorts: first-touch ISO-week cohort × whole-"
    "week offset, distinct-user counts — two hash aggs + a broadcast "
    "user-dim join; output is cohort×offset-sized",
)
def e03(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import retention_cohorts

    ev = load(spark, sf, "events")
    return retention_cohorts(ev, period_days=7)


@register(
    "e04_event_transitions",
    """
    with o as (
      select user_id, event_type,
             lag(event_type) over (partition by user_id
                                   order by ts, event_id) as prev_event
      from events
    )
    select prev_event, event_type as event, count(*) as n_transitions
    from o where prev_event is not null
    group by prev_event, event
    """,
    doc="first-order event transition matrix (Markov counts): per-user "
    "lag window + one hash agg over the event-type pair space",
)
def e04(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import event_transitions

    return event_transitions(load(spark, sf, "events"))


@register(
    "e05_conversion_latency",
    """
    with su as (
      select user_id, min(ts) as t0 from events
      where event_type = 'signup' group by user_id
    ), pu as (
      select e.user_id, min(e.ts) as t1, min(su.t0) as t0
      from events e join su on e.user_id = su.user_id and e.ts > su.t0
      where e.event_type = 'purchase' group by e.user_id
    )
    select count(*) as n_converted,
           min(epoch_us(cast(t1 as timestamp))
               - epoch_us(cast(t0 as timestamp))) as min_us,
           max(epoch_us(cast(t1 as timestamp))
               - epoch_us(cast(t0 as timestamp))) as max_us,
           cast(sum(epoch_us(cast(t1 as timestamp))
                    - epoch_us(cast(t0 as timestamp))) as bigint) as sum_us
    from pu
    """,
    doc="signup→purchase conversion latency summary: first-touch "
    "conditional MINs + broadcast user-frame join; all-integer outputs "
    "so derived means are engine-reproducible",
)
def e05(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import conversion_latency

    return conversion_latency(load(spark, sf, "events"), "signup", "purchase")


@register(
    "e06_session_paths",
    """
    with o as (
      select user_id, event_id, ts, event_type,
             lag(ts) over (partition by user_id order by ts, event_id) as prev_ts
      from events
    ), f as (
      select user_id, event_id, ts, event_type,
             case when prev_ts is null or ts - prev_ts > interval 30 minute
                  then 1 else 0 end as ns
      from o
    ), s as (
      select user_id, event_id, ts, event_type,
             sum(ns) over (partition by user_id order by ts, event_id
                           rows unbounded preceding) as session_seq
      from f
    ), p as (
      select user_id, session_seq,
             string_agg(event_type, '->' order by ts, event_id) as path
      from s group by user_id, session_seq
    )
    select path, count(*) as n_sessions
    from p group by path
    order by n_sessions desc, path
    limit 20
    """,
    doc="top-20 session paths: sessionize + order-preserving event-"
    "sequence re-pack (collect_list + array_sort, no per-session window) "
    "+ path count + TakeOrdered top-k",
)
def e06(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import session_paths

    return session_paths(load(spark, sf, "events"), k=20, gap_minutes=30)


@register(
    "e02b_funnel_within_window",
    """
    with s1 as (
      select user_id, min(ts) as t1 from events
      where event_type = 'view' group by user_id
    ), s2 as (
      select e.user_id, min(e.ts) as t2, min(s1.t1) as t1
      from events e
      join s1 on e.user_id = s1.user_id and e.ts > s1.t1
             and e.ts <= s1.t1 + interval 1440 minute
      where e.event_type = 'click' group by e.user_id
    ), s3 as (
      select e.user_id, min(e.ts) as t3
      from events e
      join s2 on e.user_id = s2.user_id and e.ts > s2.t2
             and e.ts <= s2.t1 + interval 1440 minute
      where e.event_type = 'purchase' group by e.user_id
    )
    select cast(1 as int) as step, 'view' as event_type,
           (select count(*) from s1) as users
    union all
    select cast(2 as int), 'click', (select count(*) from s2)
    union all
    select cast(3 as int), 'purchase', (select count(*) from s3)
    """,
    doc="bounded-window funnel: every later step must land within 24h of "
    "the user's first-step event — the standard conversion-window "
    "semantics; the first-step timestamp rides the per-user fold state, "
    "same one-scan plan as e02",
)
def e02b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import funnel

    return funnel(
        load(spark, sf, "events"),
        ["view", "click", "purchase"],
        within_minutes=1440,
    )


@register(
    "e07_rfm_profiles",
    """
    with mx as (select max(ts) as m from events)
    select user_id,
           cast(date_diff('day', cast(max(ts) as date),
                          cast((select m from mx) as date)) as int)
             as recency_days,
           count(*) as frequency,
           cast(coalesce(sum(case when event_type = 'purchase'
                              then cast(value as decimal(18,6)) end),
                         cast(0 as decimal(18,6))) as double) as monetary
    from events group by user_id
    """,
    doc="RFM user profiles: one hash agg on the user key + broadcast "
    "corpus-max scalar; decimal-exact monetary sum",
)
def e07(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import rfm_profiles

    return rfm_profiles(load(spark, sf, "events"))


@register(
    "e08_time_gapfill",
    r"""
    with b as (
      select user_id, date_trunc('hour', ts) as bucket,
             sum(cast(value as decimal(18,6))) as v
      from events group by user_id, bucket
    ), rng as (select min(bucket) as lo, max(bucket) as hi from b),
    spine as (
      select u.user_id, g.bucket
      from (select distinct user_id from events) u
      cross join (select unnest(generate_series((select lo from rng),
                                                (select hi from rng),
                                                interval 1 hour)) as bucket) g
    )
    select s.user_id, s.bucket as bucket_ts,
           cast(b.v as double) as v,
           cast(last_value(b.v ignore nulls) over (
                  partition by s.user_id order by s.bucket
                  rows between unbounded preceding and current row) as double)
             as filled
    from spine s left join b on s.user_id is not distinct from b.user_id and s.bucket = b.bucket
    """,
    doc="hypertable-style time_bucket_gapfill + locf (TimescaleDB "
    "semantics): hourly decimal-exact roll-up, dense per-user spine over "
    "the global bucket range (sequence + explode, broadcast scalars), "
    "last-observation-carried-forward via one bounded window; leading "
    "gaps stay NULL",
)
def e08(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import time_bucket_gapfill

    return time_bucket_gapfill(load(spark, sf, "events"))


@register(
    "e08b_time_gapfill_interp",
    r"""
    with b as (
      select user_id, date_trunc('hour', ts) as bucket,
             sum(cast(value as decimal(18,6))) as v
      from events group by user_id, bucket
    ), rng as (select min(bucket) as lo, max(bucket) as hi from b),
    spine as (
      select u.user_id, g.bucket
      from (select distinct user_id from events) u
      cross join (select unnest(generate_series((select lo from rng),
                                                (select hi from rng),
                                                interval 1 hour)) as bucket) g
    ), j as (
      select s.user_id, s.bucket,
             cast(b.v as double) as v,
             case when b.v is not null
                  then epoch_us(cast(s.bucket as timestamp)) end as ot
      from spine s left join b on s.user_id is not distinct from b.user_id and s.bucket = b.bucket
    ), w as (
      select user_id, bucket, v,
             cast(last_value(v ignore nulls) over fwd as double) as pv,
             last_value(ot ignore nulls) over fwd as pt,
             cast(first_value(v ignore nulls) over bwd as double) as nv,
             first_value(ot ignore nulls) over bwd as nt,
             epoch_us(cast(bucket as timestamp)) as t
      from j
      window fwd as (partition by user_id order by bucket
                     rows between unbounded preceding and current row),
             bwd as (partition by user_id order by bucket
                     rows between current row and unbounded following)
    )
    select user_id, bucket as bucket_ts, v,
           case when v is not null then v
                else pv + (nv - pv) * (cast(t - pt as double)
                                       / cast(nt - pt as double)) end as filled
    from w
    """,
    doc="gap-fill with LINEAR INTERPOLATION (TimescaleDB interpolate "
    "semantics): surrounding-observation windows (last/first IGNORE "
    "NULLS), identical IEEE formula both engines; edge gaps stay NULL",
)
def e08b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import time_bucket_gapfill

    return time_bucket_gapfill(load(spark, sf, "events"), fill="interp")


@register(
    "e09_zscore_anomalies",
    """
    with counts as (
      select user_id, date_trunc('hour', ts) as bucket,
             count(*) as n_events
      from events group by user_id, bucket
    ), scored as (
      select user_id, bucket, n_events,
             avg(n_events) over w as mu,
             stddev_samp(n_events) over w as sd,
             count(n_events) over w as npts
      from counts
      window w as (partition by user_id order by bucket
                   rows between 24 preceding and 1 preceding)
    )
    select user_id, bucket as bucket_ts, n_events,
           floor((n_events - mu) / sd * 1000000.0 + 0.5) / 1000000.0 as zscore
    from scored
    where npts >= 12 and sd > 0
      and abs(floor((n_events - mu) / sd * 1000000.0 + 0.5) / 1000000.0) > 2.5
    """,
    doc="trailing-window rate anomalies: per-user hourly counts z-scored "
    "against the strictly-preceding 24-bucket baseline (the anomaly "
    "never contaminates its own baseline); explicit NULL on thin or "
    "zero-variance baselines — no engine div-by-zero semantics; "
    "explicit IEEE rounding",
)
def e09(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import zscore_anomalies

    return zscore_anomalies(load(spark, sf, "events"), threshold=2.5)


@register(
    "d04u_weighted_reservoir",
    f"""
    with q as (
      select doc_id, {_QUALITY_EXPR} as quality_score
      from ({_STATS_SQL})
    ), keyed as (
      select doc_id, quality_score,
             floor(power(
                     ((('0x' || substr(md5('ares' || cast(doc_id as varchar)),
                                       1, 8))::ubigint)::double + 1.0)
                       / 4294967296.0,
                     1.0 / greatest(quality_score, 1e-12)
                   ) * 1e12 + 0.5) / 1e12 as ares_key
      from q
    )
    select doc_id, quality_score
    from keyed order by ares_key desc, doc_id limit 50
    """,
    doc="Efraimidis-Spirakis A-Res weighted reservoir: exact-k sampling "
    "without replacement, inclusion ~ weight; deterministic md5-uniform "
    "u, key = u^(1/w), TakeOrdered top-k — no shuffle-sort, no RNG "
    "state; explicit IEEE rounding on the key",
)
def d04u(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import (
        quality_score,
        weighted_reservoir_sample,
    )

    d = quality_score(load(spark, sf, "documents"), "text")
    return weighted_reservoir_sample(d, "quality_score", 50, salt="ares").select(
        "doc_id", "quality_score"
    )


# Six fixed valid 44-byte PCM WAV headers (channels x sample-rate
# variants), generated once with struct.pack per the public RIFF/WAVE
# spec. The Spark side PARSES the bytes; the oracle states the ground
# truth from the construction table — an independent check of the parse.
_WAV_HEADERS = [
    ("524946460000000057415645666D74201000000001000100401F0000803E0000020010006461746100000000", 1, 8000, 16000),
    ("524946460000000057415645666D74201000000001000200401F0000007D0000040010006461746100000000", 2, 8000, 32000),
    ("524946460000000057415645666D74201000000001000100803E0000007D0000020010006461746100000000", 1, 16000, 32000),
    ("524946460000000057415645666D74201000000001000200803E000000FA0000040010006461746100000000", 2, 16000, 64000),
    ("524946460000000057415645666D7420100000000100010044AC000088580100020010006461746100000000", 1, 44100, 88200),
    ("524946460000000057415645666D7420100000000100020044AC000010B10200040010006461746100000000", 2, 44100, 176400),
]


@register(
    "d05d_wav_header_parse",
    f"""
    with blobs as (
      select doc_id,
             doc_id % 6 as variant,
             44 + octet_length(encode(coalesce(text, ''))) as n_bytes
      from documents
    ), truth as (
      select * from (values
        {", ".join(f"({i}, {ch}, {rate}, {br})" for i, (_, ch, rate, br) in enumerate(_WAV_HEADERS))}
      ) as t(variant, channels, sample_rate, byte_rate)
    )
    select b.doc_id, true as is_wav,
           cast(t.channels as int) as channels,
           cast(t.sample_rate as int) as sample_rate,
           cast(16 as int) as bits,
           cast(t.byte_rate as int) as byte_rate,
           floor((b.n_bytes - 44) * 1000.0 / t.byte_rate * 1000000.0 + 0.5)
             / 1000000.0 as duration_ms
    from blobs b join truth t on b.variant = t.variant
    """,
    doc="decode-free AUDIO metadata: PCM WAV headers parsed from the "
    "binary column as pure expressions (hex-slice + little-endian swap "
    "+ conv, no UDF/codec); the oracle derives ground truth from the "
    "construction table, independently checking the byte-level parse",
)
def d05d(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import wav_header_fields

    d = load(spark, sf, "documents").select("doc_id", "text")
    hdr = None
    for i, (hx, _, _, _) in enumerate(_WAV_HEADERS):
        cond = F.col("doc_id") % 6 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn(
        "content",
        F.concat(hdr, F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")),
    )
    w = wav_header_fields("content")
    flat = blobs.select(
        "doc_id", F.length("content").alias("__n"), w.alias("w")
    ).select("doc_id", "__n", "w.*")
    dur = (
        F.floor(
            (F.col("__n") - 44) * 1000.0 / F.col("byte_rate") * 1000000.0 + 0.5
        )
        / 1000000.0
    )
    return flat.withColumn("duration_ms", dur).drop("__n")


_FLAC_HEADERS = [
    ("664C6143800000221000100000000000000001F400F00001388000000000000000000000000000000000", 8000, 1, 16, 80000),
    ("664C6143800000221000100000000000000003E802F00004E20000000000000000000000000000000000", 16000, 2, 16, 320000),
    ("664C61438000002210001000000000000000056220700000562200000000000000000000000000000000", 22050, 1, 8, 22050),
    ("664C614380000022100010000000000000000AC442F00006BAA800000000000000000000000000000000", 44100, 2, 16, 441000),
    ("664C614380000022100010000000000000000BB803700007530000000000000000000000000000000000", 48000, 2, 24, 480000),
    ("664C6143800000221000100000000000000017700FF20000303900000000000000000000000000000000", 96000, 8, 32, 8589946937),
]


@register(
    "d05e_flac_streaminfo_parse",
    f"""
    with blobs as (
      select doc_id, doc_id % 6 as variant from documents
    ), truth as (
      select * from (values
        {", ".join(f"({i}, {sr}, {ch}, {b}, {ts})" for i, (_, sr, ch, b, ts) in enumerate(_FLAC_HEADERS))}
      ) as t(variant, sample_rate, channels, bits, total_samples)
    )
    select b.doc_id, true as is_flac,
           cast(t.sample_rate as int) as sample_rate,
           cast(t.channels as int) as channels,
           cast(t.bits as int) as bits,
           cast(t.total_samples as bigint) as total_samples
    from blobs b join truth t on b.variant = t.variant
    """,
    doc="decode-free FLAC metadata (RFC 9639 STREAMINFO): sample rate "
    "(20-bit), channels (3-bit), bits/sample (5-bit) and the 36-bit "
    "total-sample count parsed out of the big-endian bit-packed block "
    "as pure hex-slice + conv + integer div/mod expressions — no UDF, "
    "no codec, O(1) bytes touched per row; the variants exercise the "
    "8-channel field maximum and a >2^32 sample count that spans the "
    "nibble boundary. Oracle derives ground truth from the "
    "construction table, independently checking the bit surgery",
)
def d05e(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import flac_streaminfo_fields

    d = load(spark, sf, "documents").select("doc_id", "text")
    hdr = None
    for i, (hx, _, _, _, _) in enumerate(_FLAC_HEADERS):
        cond = F.col("doc_id") % 6 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn(
        "content",
        F.concat(hdr, F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")),
    )
    s = flac_streaminfo_fields("content")
    return blobs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


@register(
    "d06e_label_centroids",
    """
    with p as (
      select unnest(generate_series(1,
               (select max(len(embedding)) from embeddings))) as pos
    ), e as (
      select label, p.pos, embedding[p.pos] as v
      from embeddings cross join p
    )
    select label, cast(pos as int) as pos,
           cast(sum(cast(cast(v as double) as decimal(18,9))) as double)
             / count(*) as mv
    from e group by label, pos
    """,
    doc="per-label embedding centroids (class prototypes): posexplode -> "
    "one (label, position) hash agg with decimal-exact sums; flattened "
    "to (label, pos, mean) rows for the oracle comparison",
)
def d06e(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import label_centroids

    cents = label_centroids(load(spark, sf, "embeddings"))
    return cents.select(
        "label",
        F.posexplode("centroid").alias("__p0", "mv"),
    ).select("label", (F.col("__p0") + 1).cast("int").alias("pos"), "mv")


@register(
    "e10_inter_event_gaps",
    """
    with g as (
      select user_id,
             epoch_us(cast(ts as timestamp))
               - lag(epoch_us(cast(ts as timestamp)))
                   over (partition by user_id order by ts, event_id) as gap
      from events
    )
    select user_id, count(*) as n_gaps,
           min(gap) as min_gap_us, max(gap) as max_gap_us,
           cast(sum(gap) as bigint) as sum_gap_us
    from g where gap is not null
    group by user_id
    """,
    doc="per-user inter-event gap profile (engagement cadence): lag "
    "window + hash agg, all-integer microsecond outputs — derived "
    "means are exactly reproducible across engines",
)
def e10(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import inter_event_gaps

    return inter_event_gaps(load(spark, sf, "events"))


@register(
    "e11_trailing_window_rate",
    """
    select user_id, ts, event_id,
           count(*) over (partition by user_id order by ts
                          range between interval 60 minute preceding
                                    and current row) as n_trailing
    from events
    """,
    doc="per-event trailing-hour activity count via a TIME-RANGE window "
    "frame (rangeBetween over epoch micros == interval arithmetic on "
    "timestamps, microsecond-exact in both engines) — the rate-limit / "
    "burst-detection feature",
)
def e11(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import trailing_window_counts

    return trailing_window_counts(load(spark, sf, "events"), minutes=60)


@register(
    "d02j_source_vocab_overlap",
    r"""
    with toks as (
      select source, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') as w
      from documents
    ), grams as (
      select distinct source,
             w[p.pos] || ' ' || w[p.pos + 1] || ' ' || w[p.pos + 2] as g
      from toks cross join
           (select unnest(generate_series(1, 400)) as pos) p
      where p.pos + 2 <= len(w)
    ), sizes as (
      select source, count(*) as n from grams group by source
    ), inter as (
      select a.source as group_a, b.source as group_b, count(*) as n_shared
      from grams a join grams b on a.g = b.g and a.source < b.source
      group by a.source, b.source
    )
    select group_a, group_b, n_shared,
           floor(cast(n_shared as double) / (sa.n + sb.n - n_shared)
                 * 1000000.0 + 0.5) / 1000000.0 as jaccard
    from inter
    join sizes sa on sa.source = group_a
    join sizes sb on sb.source = group_b
    """,
    doc="pairwise vocabulary overlap between corpus sources (shared "
    "distinct word 3-grams + Jaccard): the cross-slice homogeneity "
    "diagnostic; gram self-join fan-out bounded by the slice count, "
    "never corpus size",
)
def d02j(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import source_vocab_overlap

    return source_vocab_overlap(load(spark, sf, "documents"))


@register(
    "c13_stream_static_enrich",
    """
    with seg as (
      select distinct user_id, user_id % 5 as segment from events
    )
    select s.segment, count(*) as n_events,
           round(sum(e.value), 4) as total_value
    from events e join seg s on e.user_id = s.user_id
    group by s.segment
    """,
    doc="stream-static enrichment join: a STREAMING events scan joins a "
    "static dimension (per-user segment) before an update-mode "
    "aggregation into an exactly-once UPSERT store — the canonical "
    "streaming enrichment pattern; final table must equal the batch "
    "join+group-by exactly",
)
def c13(spark: SparkSession, sf: str) -> DataFrame:
    import os as _os
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    tmp = _tf.mkdtemp(prefix="bds_c13_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    _os.symlink(f"{sf}/events.parquet", _os.path.join(drop, "events.parquet"))
    raw_schema = spark.read.parquet(f"{sf}/events.parquet").schema
    static_dim = (
        spark.read.parquet(f"{sf}/events.parquet")
        .select("user_id")
        .distinct()
        .withColumn("segment", F.col("user_id") % 5)
        .withColumnRenamed("user_id", "__u")
    )
    agg = (
        spark.readStream.schema(raw_schema)
        .parquet(drop)
        .join(F.broadcast(static_dim), F.col("user_id") == F.col("__u"))
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    store = TableStore(tmp, "segment_stats", spark)
    store.configure(unique_on="segment")
    q = stream_upsert_to_store(agg, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read().select("segment", "n_events", "total_value")


@register(
    "e12_experiment_srm",
    """
    with units as (select distinct user_id from events),
    assigned as (
      select user_id,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from units
    ), obs as (
      select arm, count(*) as n_units from assigned group by arm
    ), arms(arm) as (values ('control'), ('variant_a'), ('variant_b')),
    counts as (
      -- mirror the operator's zero-arm semantics: every DECLARED arm gets
      -- a row (coalesced to 0), so the chi2 sum includes the (0-E)^2/E
      -- term for an arm that received no units — identical to srm_check's
      -- left join onto the full arm list.
      select a.arm, coalesce(o.n_units, cast(0 as bigint)) as n_units
      from arms a left join obs o on a.arm = o.arm
    ), tot as (select sum(n_units) as total from counts),
    chi as (
      select floor(sum((n_units - total / 3.0) * (n_units - total / 3.0)
                       / (total / 3.0)) * 1000000.0 + 0.5) / 1000000.0 as chi2
      from counts, tot
    )
    select arm, n_units, chi.chi2 from counts, chi
    """,
    doc="deterministic A/B assignment + sample-ratio-mismatch check: "
    "md5-uniform arm bucketing (stable across engines/runs) and the "
    "chi-square statistic against the uniform split — the experiment "
    "health gate; exact integer counts, explicit IEEE rounding on chi2",
)
def e12(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import srm_check

    return srm_check(
        load(spark, sf, "events"), ["control", "variant_a", "variant_b"]
    )


@register(
    "d07b_multi_benchmark_contamination",
    r"""
    with toks as (
      select doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') as w
      from documents
    ), cg as (
      select doc_id, w[p.pos] || ' ' || w[p.pos+1] || ' ' || w[p.pos+2] || ' '
             || w[p.pos+3] || ' ' || w[p.pos+4] as g
      from toks cross join (select unnest(generate_series(1, 400)) as pos) p
      where p.pos + 4 <= len(w)
    ), bg as (
      select distinct case when doc_id < 5 then 'bench_a' else 'bench_b' end
               as bench_name, g
      from cg where doc_id < 10
    ), cd as (select distinct doc_id, g from cg)
    select cd.doc_id, bg.bench_name, count(*) as shared_grams
    from cd join bg on cd.g = bg.g
    group by cd.doc_id, bg.bench_name
    """,
    doc="multi-benchmark decontamination with attribution: one corpus "
    "shingle pass vs the combined broadcast (bench, gram) set — per-doc "
    "per-benchmark shared 5-gram counts; corpus never self-joins",
)
def d07b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import multi_benchmark_contamination

    d = load(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") < 10).select(
        F.when(F.col("doc_id") < 5, "bench_a").otherwise("bench_b").alias("bench_name"),
        "text",
    )
    return multi_benchmark_contamination(d, bench, shingle_size=5)


@register(
    "e13_experiment_readout",
    """
    with assigned as (
      select user_id, event_type, value,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from events
    ), per_unit as (
      select user_id, arm,
             max(cast(event_type = 'purchase' as int)) as conv,
             sum(case when event_type = 'purchase'
                      then cast(value as decimal(18,6)) end) as val
      from assigned group by user_id, arm
    )
    select arm, count(*) as n_units,
           cast(sum(conv) as bigint) as n_converted,
           floor(sum(conv) / cast(count(*) as double) * 1000000.0 + 0.5)
             / 1000000.0 as conversion_rate,
           cast(coalesce(sum(val), cast(0 as decimal(28,6))) as double)
             as metric_value
    from per_unit group by arm
    """,
    doc="per-arm A/B readout: unit counts, converters, conversion rate "
    "(explicit IEEE rounding), decimal-exact metric value sum — pairs "
    "with the e12 assignment + SRM gate",
)
def e13(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import experiment_readout

    return experiment_readout(
        load(spark, sf, "events"), ["control", "variant_a", "variant_b"]
    )


@register(
    "d06f_embedding_standardize_fit",
    """
    with p as (
      select unnest(generate_series(1,
               (select max(len(embedding)) from embeddings))) as pos
    ), e as (
      select p.pos, embedding[p.pos] as v
      from embeddings cross join p
    ), a as (
      select pos, count(*) as n,
             cast(sum(cast(cast(v as double) as decimal(18,9))) as double) as s,
             cast(sum(cast(cast(v as double) as decimal(18,9))
                      * cast(cast(v as double) as decimal(18,9)))
                  as double) as sq
      from e group by pos
    )
    select cast(pos as int) as pos,
           floor(s / n * 1000000.0 + 0.5) / 1000000.0 as mu,
           floor(sqrt((sq - s * s / n) / (n - 1)) * 1000000.0 + 0.5)
             / 1000000.0 as sigma
    from a
    """,
    doc="per-dimension standardization fit (feature normalization): mean "
    "and sample stddev from decimal-exact sums, identical float64 "
    "formula both engines, explicit IEEE rounding",
)
def d06f(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import embedding_standardize_fit

    return embedding_standardize_fit(load(spark, sf, "embeddings"))


@register(
    "d03g_nearest_centroid_confusion",
    """
    with p as (
      select unnest(generate_series(1,
               (select max(len(embedding)) from embeddings))) as pos
    ), cw as (
      select cast(label as varchar) as cl, p.pos,
             cast(sum(cast(cast(embedding[p.pos] as double)
                           as decimal(18,9))) as double)
               / count(*) as w
      from embeddings cross join p
      group by label, p.pos
    ), cn as (select cl, sqrt(sum(w*w)) as cn from cw group by cl),
    ve as (
      select vec_id, p.pos, cast(embedding[p.pos] as double) as v
      from embeddings cross join p
    ),
    vn as (select vec_id, sqrt(sum(v*v)) as vnorm from ve group by vec_id),
    scored as (
      select ve.vec_id, cw.cl, sum(ve.v * cw.w) / min(cn.cn) as s
      from ve join cw on ve.pos = cw.pos join cn on cw.cl = cn.cl
      group by ve.vec_id, cw.cl
    ),
    ranked as (
      select vec_id, cl, s,
             row_number() over (partition by vec_id order by s desc, cl) as r
      from scored
    ),
    gated as (
      select a.vec_id, a.cl as pred_label
      from ranked a
      left join ranked b on a.vec_id = b.vec_id and b.r = 2
      join vn on a.vec_id = vn.vec_id
      where a.r = 1
        and (b.s is null
             or (a.s - b.s) > 0.000000001 * greatest(vn.vnorm, 1e-12))
    )
    select cast(e.label as varchar) as true_label, g.pred_label,
           count(*) as n
    from gated g join embeddings e on g.vec_id = e.vec_id
    group by true_label, g.pred_label
    """,
    doc="nearest-centroid (Rocchio) classification confusion matrix: "
    "class centroids from label_centroids, RELATIONAL argmax (posexplode "
    "+ broadcast centroid-weight join + max-by — compile cost flat in "
    "class count, 37x faster than the literal-expression form at 10 "
    "classes and the shape that scales to thousands). MARGIN-GATED "
    "(r5): rows whose top-2 cosine separation is under 1e-9·|v| are "
    "excluded on both sides, so the float-argmax boundary rows that "
    "made this rows-only in r4 can no longer flip between engines; "
    "boundary-row quality remains covered by the accuracy pytest",
)
def d03g(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import (
        label_centroids,
        nearest_centroid_assign_join,
    )

    e = load(spark, sf, "embeddings")
    pred = nearest_centroid_assign_join(
        e, label_centroids(e), margin=1e-9
    )
    return (
        pred.groupBy(
            F.col("label").cast("string").alias("true_label"), "pred_label"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "e14_activity_concentration",
    """
    with per_user as (
      select user_id, count(*) as n from events group by user_id
    ), ranked as (
      select n, row_number() over (order by n desc, user_id) as r
      from per_user
    ), totals as (
      select count(*) as n_users,
             cast(sum(n) as bigint) as total_events from per_user
    )
    select t.n_users,
           cast(ceil(t.n_users * 0.1) as bigint) as top_k,
           cast(sum(r.n) as bigint) as top_events,
           t.total_events,
           floor(sum(r.n) / cast(t.total_events as double) * 1000000.0 + 0.5)
             / 1000000.0 as top_share
    from ranked r cross join totals t
    where r.r <= ceil(t.n_users * 0.1)
    group by t.n_users, t.total_events
    """,
    doc="activity concentration (power-user share): fraction of all "
    "events from the top 10% of users by count — exact integers, "
    "deterministic user-id tie-break, explicit IEEE rounding",
)
def e14(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import activity_concentration

    return activity_concentration(load(spark, sf, "events"), top_fraction=0.1)


@register(
    "d11_sequence_packing",
    """
    with t as (
      -- regex \\s+ split: the SAME tokenization definition as the operator
      -- (multi-space/tab/newline runs count as one separator), not the
      -- single-literal-space convention
      select doc_id,
             cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) as int)
               as n_tokens
      from documents
    ), c as (
      select doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) over (order by doc_id
                     rows between unbounded preceding and 1 preceding),
                   0) as bigint) as cb
      from t
    )
    select doc_id, n_tokens,
           cast(floor(cb / 2048.0) as bigint) as seq_id,
           cast(cb % 2048 as bigint) as seq_offset
    from c
    """,
    doc="concat-and-chunk sequence packing (GPT-style training-sequence "
    "layout): documents laid into one global token stream in doc_id "
    "order, chunked into 2048-token sequences; each doc reports the "
    "sequence it starts in and its offset. Global running sum via the "
    "two-pass bucketed prefix pattern — no one-task window over the "
    "corpus",
)
def d11(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import sequence_pack

    return sequence_pack(load(spark, sf, "documents"), budget=2048)


@register(
    "d11b_sequence_packing_tokcol",
    """
    with t as (
      -- deterministic stand-in for a BPE tokenizer's per-doc counts
      -- (~chars/4): the operator packs by the SUPPLIED column, so the
      -- layout is a pure function of these counts, not of whitespace
      select doc_id,
             cast(length(text) // 4 + 1 as bigint) as n_tokens
      from documents
    ), c as (
      select doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) over (order by doc_id
                     rows between unbounded preceding and 1 preceding),
                   0) as bigint) as cb
      from t
    )
    select doc_id, n_tokens,
           cast(floor(cb / 2048.0) as bigint) as seq_id,
           cast(cb % 2048 as bigint) as seq_offset
    from c
    """,
    doc="sequence packing by a SUPPLIED token-count column (r6 verdict "
    "task 7: real pretraining packs by BPE counts, not whitespace) — "
    "here a deterministic ~chars/4 stand-in computed per doc feeds "
    "sequence_pack(n_tokens_col=...); the prefix-sum layout shape is "
    "unchanged, only the measure differs",
)
def d11b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import sequence_pack

    docs = load(spark, sf, "documents").withColumn(
        "bpe_ct", (F.floor(F.length("text") / 4) + 1).cast("long")
    )
    return sequence_pack(docs, budget=2048, n_tokens_col="bpe_ct")


@register(
    "d12_pii_redaction",
    """
    with t0 as (
      select doc_id,
             text || ' contact u' || cast(doc_id as varchar)
                  || '@example.com or 10.0.'
                  || cast(doc_id % 256 as varchar)
                  || '.7 ssn 123-45-6789 tel +1 555 0100 999' as s
      from documents
    ), t1 as (
      select doc_id,
             cast(len(regexp_extract_all(s,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) as bigint)
               as n_email,
             regexp_replace(s,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
               '[EMAIL]', 'g') as s
      from t0
    ), t2 as (
      select doc_id, n_email,
             cast(len(regexp_extract_all(s,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) as bigint)
               as n_ip,
             regexp_replace(s,
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
               '[IP]', 'g') as s
      from t1
    ), t3 as (
      select doc_id, n_email, n_ip,
             cast(len(regexp_extract_all(s, '\\b\\d{3}-\\d{2}-\\d{4}\\b'))
               as bigint) as n_ssn,
             regexp_replace(s, '\\b\\d{3}-\\d{2}-\\d{4}\\b', '[SSN]', 'g') as s
      from t2
    ), t4 as (
      select doc_id, n_email, n_ip, n_ssn,
             cast(len(regexp_extract_all(s, '\\+?\\d[\\d \\-]{7,}\\d'))
               as bigint) as n_phone,
             regexp_replace(s, '\\+?\\d[\\d \\-]{7,}\\d', '[PHONE]', 'g') as s
      from t3
    )
    select doc_id, n_email, n_ip, n_ssn, n_phone, s as redacted
    from t4
    """,
    doc="PII redaction (compliance pre-step before publishing a corpus): "
    "emails / IPv4s / SSN-shaped / phone-shaped spans replaced by typed "
    "placeholders with per-category match counts, applied in a fixed "
    "order (SSN before phone) so categories never swallow each other; "
    "deterministic synthetic PII is appended per doc so the oracle "
    "exercises real matches, not an all-zeros pass. Pure regexp "
    "expressions — fuses into the scan, shuffle-free",
)
def d12(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import redact_pii_counted

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel +1 555 0100 999"),
        ).alias("text"),
    )
    return redact_pii_counted(d, "text").withColumnRenamed("text", "redacted")


@register(
    "d13_shard_plan",
    """
    with a as (
      select doc_id,
             cast(('0x' || substr(md5('shard' || cast(doc_id as varchar)),
                                  1, 8))::ubigint % 8 as int) as shard,
             cast(strlen(text) as bigint) as n_bytes
      from documents
    ), per as (
      select shard, count(*) as n_docs,
             cast(sum(n_bytes) as bigint) as total_bytes
      from a group by shard
    ), tot as (
      select floor(max(total_bytes)
                   / (sum(total_bytes) / cast(count(*) as double))
                   * 1000000.0 + 0.5) / 1000000.0 as imbalance
      from per
    )
    select shard, n_docs, total_bytes, imbalance
    from per cross join tot
    """,
    doc="output-shard layout plan (the 100 TB writer's pre-commit check): "
    "md5-deterministic shard assignment, per-shard doc and byte totals, "
    "and the global max/mean byte-imbalance ratio — one hash agg plus a "
    "broadcast of the n_shards-row totals; no sort, no RNG, no window",
)
def d13(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import shard_plan

    return shard_plan(load(spark, sf, "documents"), n_shards=8)


@register(
    "d14_exact_substring_dedup",
    r"""
    with corpus as (
      select doc_id, text from documents
      union all
      select doc_id + 1000000 as doc_id,
             text || ' planted unique tail ' || cast(doc_id as varchar) as text
      from documents where doc_id < 15
    ), base as (
      select doc_id, regexp_split_to_array(trim(text), '\s+') as toks
      from corpus
    ), sh as (
      select doc_id, p.pos as s,
             array_to_string(toks[p.pos+1 : p.pos+20], ' ') as span
      from base, lateral (select unnest(range(len(toks) - 19)) as pos) p
      where len(toks) >= 20
    ), marked as (
      select doc_id, s,
             count(*) over (partition by span) as c,
             row_number() over (partition by span order by doc_id, s) as rn
      from sh
    ), excise as (
      select doc_id, s, s + 20 as e from marked where c >= 2 and rn > 1
    ), flagged as (
      select doc_id, s, e,
             case when s > coalesce(max(e) over (partition by doc_id
                    order by s, e
                    rows between unbounded preceding and 1 preceding), -1)
                  then 1 else 0 end as f
      from excise
    ), grp as (
      select doc_id, s, e,
             sum(f) over (partition by doc_id order by s, e
                          rows between unbounded preceding and current row) as g
      from flagged
    ), merged as (
      select doc_id, min(s) as ms, max(e) as me from grp group by doc_id, g
    ), tokens as (
      select b.doc_id, p.i as idx, b.toks[p.i+1] as tok
      from base b, lateral (select unnest(range(len(b.toks))) as i) p
    ), kept as (
      select t.doc_id, t.idx, t.tok from tokens t
      where not exists (select 1 from merged m
                        where m.doc_id = t.doc_id
                          and t.idx >= m.ms and t.idx < m.me)
    ), kagg as (
      select doc_id, string_agg(tok, ' ' order by idx) as text_clean,
             count(*) as nk
      from kept group by doc_id
    )
    select b.doc_id, coalesce(k.text_clean, '') as text_clean,
           cast(len(b.toks) - coalesce(k.nk, 0) as bigint) as n_removed
    from base b left join kagg k on b.doc_id = k.doc_id
    """,
    doc="exact-substring span dedup (Lee et al. 2022 ExactSubstr, "
    "distributed): repeated >=20-token spans removed everywhere but "
    "their first (doc_id, pos) occurrence, overlapping excisions "
    "merged, docs re-joined. Corpus = documents plus planted copies "
    "(doc_id<15 shifted +1e6 with a unique tail) whose duplicated "
    "prefixes must be excised while the tails survive. Oracle "
    "recomputes the full model in SQL: shingle windows, count/keeper "
    "per span, interval merge via running-max window, token-level "
    "anti-semi-join rebuild",
)
def d14(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import exact_substring_dedup

    d = load(spark, sf, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 15).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" planted unique tail "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return exact_substring_dedup(d.unionByName(planted), span_tokens=20)


@register(
    "d15_ann_index_join",
    pyoracle.ann_join_sql,
    doc="persisted ANN index, build-once/query-many (the 100 TB RAG "
    "shape): ann_index_build writes the fitted quantizer and the "
    "cell-assigned/pre-cast/pre-normed right corpus to managed stores "
    "(cells PARTITIONED BY cell, so probed-cell equi-joins prune at the "
    "layout level); ann_join_indexed then answers queries with no fit "
    "and no right-side work beyond the candidate dot products. Same "
    "quantizer and determinism contract as the one-shot d03h, so the "
    "SAME oracle must match byte-for-byte — parquet round-trips "
    "preserve the doubles exactly",
)
def d15(spark: SparkSession, sf: str) -> DataFrame:
    import tempfile as _tf

    from basis_devkit_spark.operators.similarity import (
        ann_index_build,
        ann_join_indexed,
    )
    from basis_devkit_spark.storage.store import TableStore

    emb = load(spark, sf, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    centroids_df, cells = ann_index_build(
        right, nlist=8, centroids=_ivf_seed_centroids(emb, 8)
    )
    tmp = _tf.mkdtemp(prefix="bds_d15_")
    cstore = TableStore(tmp, "ann_centroids", spark)
    cstore.write_replace(centroids_df)
    kstore = TableStore(tmp, "ann_cells", spark)
    kstore.configure(partition_by="cell")
    kstore.write_replace(cells)
    return ann_join_indexed(
        left, cstore.read(), kstore.read(), k=3, nprobe=4, score_round=4
    ).select("query_id", "match_id", "score", "rank")


@register(
    "c14_stream_ann_index_ingest",
    pyoracle.ann_join_sql,
    doc="streaming ANN index maintenance (the crawl-feed ingest shape): "
    "the right corpus arrives as TWO micro-batches (maxFilesPerTrigger="
    "1); each batch flows through ann_index_assign — a pure projection "
    "over the FIXED quantizer's centroid literals, no fit, no shuffle — "
    "into an exactly-once UPSERT cells store. Because incremental "
    "assignment arithmetic is identical to a full build, querying the "
    "streamed index must match the one-shot d03h oracle byte-for-byte",
)
def c14(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.similarity import (
        ann_index_assign,
        ann_join_indexed,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    emb = load(spark, sf, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    cents = _ivf_seed_centroids(emb, 8)

    tmp = _tf.mkdtemp(prefix="bds_c14_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    # the odd-id (right) corpus arrives as two single-file batches
    for tag, mod in (("a", 1), ("b", 3)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        emb.filter(F.col("vec_id") % 4 == mod).coalesce(1).write.parquet(part_dir)
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    assigned = ann_index_assign(stream, cents)
    store = TableStore(tmp, "ann_cells", spark)
    store.configure(unique_on="vec_id")
    q = stream_upsert_to_store(assigned, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return ann_join_indexed(
        left, cents, store.read(), k=3, nprobe=4, score_round=4
    ).select("query_id", "match_id", "score", "rank")


@register(
    "c15_stream_quantized_index_ingest",
    pyoracle.ivf_quantized_sql,
    doc="streaming maintenance of the composed IVF × int8 index (the "
    "crawl-feed ingest shape for d20): the corpus arrives as TWO "
    "micro-batches (maxFilesPerTrigger=1); each batch flows through "
    "quantized_cells_assign — cell argmax + code floor against the FIXED "
    "persisted artifacts (centroids + per-dim stats), pure per-row "
    "projections, no fit, no shuffle — into an exactly-once UPSERT cells "
    "store. Incremental assignment arithmetic is byte-identical to a "
    "full build, so querying the streamed index must equal the one-shot "
    "d20 oracle exactly",
)
def c15(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.similarity import (
        fit_scalar_quantizer,
        ivf_quantized_topk_indexed,
        quantized_cells_assign,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    emb = load(spark, sf, "embeddings")
    q_side = emb.filter(F.col("vec_id") < 30)
    cents = _ivf_seed_centroids(emb, 8)
    quant = fit_scalar_quantizer(emb)

    tmp = _tf.mkdtemp(prefix="bds_c15_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    # the corpus arrives as two single-file batches (even ids, odd ids)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        emb.filter(F.col("vec_id") % 2 == mod).coalesce(1).write.parquet(part_dir)
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    assigned = quantized_cells_assign(stream, cents, quant)
    store = TableStore(tmp, "quant_cells", spark)
    store.configure(unique_on="vec_id")
    q = stream_upsert_to_store(assigned, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return ivf_quantized_topk_indexed(
        q_side, store.read(), emb, cents, quant, k=5, nprobe=4, refine=4,
        score_round=4,
    ).select("query_id", "match_id", "score", "rank")


@register(
    "c16_stream_sketch_maintenance",
    pyoracle.hll_sketch_sql,
    doc="streaming sketch maintenance: events arrive as TWO micro-batches; "
    "each batch's XXH64-TZ registers (per-type user_id + global event_id, "
    "keyed (metric, bucket)) MAX-merge into an exactly-once managed store "
    "via stream_merge_to_store — the general merge sink for state whose "
    "per-key combine is not last-write-wins. Registers merge losslessly "
    "by MAX, so folding the streamed store must equal the one-shot d25 "
    "oracle byte-for-byte",
)
def c16(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    ev = load(spark, sf, "events")

    tmp = _tf.mkdtemp(prefix="bds_c16_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        ev.filter(F.col("event_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def batch_registers(batch: DataFrame) -> DataFrame:
        users = hll_registers(
            batch, "user_id", p=10, group_cols=["event_type"]
        ).select(
            F.concat(F.lit("users:"), F.col("event_type")).alias("metric"),
            "bucket",
            "r",
        )
        eids = hll_registers(batch, "event_id", p=10).select(
            F.lit("event_ids").alias("metric"), "bucket", "r"
        )
        return users.unionByName(eids)

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        regs = batch_registers(batch)
        if existing is None:
            return regs
        prev = existing.select(
            "metric", "bucket", F.col("r").alias("__prev_r")
        )
        return (
            regs.join(prev, ["metric", "bucket"], "left")
            .select(
                "metric",
                "bucket",
                F.greatest(
                    F.col("r"), F.coalesce("__prev_r", F.col("r"))
                ).alias("r"),
            )
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "sketch_regs", spark)
    store.configure(unique_on=["metric", "bucket"])
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    est = hll_estimate(store.read(), p=10, group_cols=["metric"])
    exact_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    ).select(
        F.concat(F.lit("users:"), F.col("event_type")).alias("metric"),
        "exact_distinct",
    )
    exact_g = ev.agg(
        F.countDistinct("event_id").alias("exact_distinct")
    ).select(F.lit("event_ids").alias("metric"), "exact_distinct")
    return est.join(exact_t.unionByName(exact_g), "metric").select(
        "metric", "est_distinct", "exact_distinct"
    )


@register(
    "d03h_ann_join",
    pyoracle.ann_join_sql,
    doc="corpus-to-corpus ANN top-3 JOIN (the retrieval shape: every left "
    "vector gets k right-corpus neighbors, NEITHER side broadcast): "
    "shared deterministic seed quantizer, right corpus lands in one cell, "
    "left probes its 4 nearest cells, candidates from the cell EQUI-join, "
    "exact cosine re-rank via the two-phase map-side top-k; candidates "
    "independently modeled in Python (pyoracle), DuckDB exact re-rank. "
    "Ranking is on 4dp-ROUNDED scores (score_round=4, match_id "
    "tie-break) on both sides, so sub-ulp float-pipeline differences "
    "between the engines cannot flip rank membership at near-ties",
)
def d03h(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import ann_join

    emb = load(spark, sf, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    return ann_join(
        left, right, k=3, nlist=8, nprobe=4,
        centroids=_ivf_seed_centroids(emb, 8), score_round=4,
    ).select("query_id", "match_id", "score", "rank")


@register(
    "d16_quantized_ann_topk",
    pyoracle.quantized_ann_sql,
    doc="int8 scalar-quantized ANN top-5 (queries = vec_id < 30, corpus = "
    "all): per-dim [min,max] fit on the corpus (bounded dim-row agg), "
    "codes via IEEE-double floor projection against a one-row broadcast "
    "stats relation, coarse candidates = top k*refine per query by the "
    "EXACT-INTEGER centered-code dot (associative — bit-identical under "
    "any partitioning), float cosine rescore on candidates only, 4dp-"
    "rounded before the final rank. The candidate set itself is exactly "
    "modeled in numpy (pyoracle.quantized_ann_candidates); DuckDB does "
    "the float rescore. The 100 TB shape: the corpus-wide scan touches "
    "1-byte-range codes with integer arithmetic; float vectors are read "
    "only for |queries| x k x refine candidate rows",
)
def d16(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import quantized_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    return quantized_topk(q, emb, k=5, refine=4, score_round=4).select(
        "query_id", "match_id", "score", "rank"
    )


_BM25_TERMS = ["spark", "customer", "vector"]


def _bm25_sql(terms: list[str], k: int = 10) -> str:
    toks = "string_split(lower(coalesce(text, '')), ' ')"
    tf_cols = ",\n             ".join(
        f"len(list_filter({toks}, x -> x = '{t}')) as tf{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ",\n             ".join(
        f"sum(case when tf{i} > 0 then 1 else 0 end) as df{i}"
        for i in range(len(terms))
    )
    # EXPLICIT fixed-order sum c0 + c1 + ... and the exact operator
    # nesting of the Spark expression: (idf * (tf * 2.2)) / denom
    contribs = " + ".join(
        f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * (tf{i} * 2.2) / (tf{i} + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl)))"
        for i in range(len(terms))
    )
    return f"""
    with base as (
      select doc_id, len({toks}) as dl,
             {tf_cols}
      from documents
    ),
    stats as (
      select count(*) as n, cast(sum(dl) as double) / count(*) as avgdl,
             {df_cols}
      from base
    ),
    scored as (
      select doc_id, round({contribs}, 4) as score
      from base cross join stats
    ),
    ranked as (
      select doc_id, score,
             row_number() over (order by score desc, doc_id) as rank
      from scored where score > 0)
    select doc_id, score, rank from ranked where rank <= {k}
    """


@register(
    "d17_bm25_topk",
    lambda: _bm25_sql(_BM25_TERMS, 10),
    doc="Okapi BM25 top-10 for a 3-term query over documents: corpus "
    "stats (N, avgdl, per-term df) from ONE single-row aggregation "
    "broadcast back, per-doc score a pure fixed-term-order column "
    "expression (tf/df/N exact ints; the only float-risk op is ln, "
    "mitigated by round-4-before-rank + doc_id tie-break), top-k via "
    "TakeOrderedAndProject — one scan, one tiny agg, no corpus shuffle",
)
def d17(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.retrieval import bm25_topk

    d = load(spark, sf, "documents")
    return bm25_topk(d, _BM25_TERMS, k=10).select("doc_id", "score", "rank")


def _hybrid_rrf_sql(k: int = 10) -> str:
    from basis_devkit_spark.queries.pyoracle import (
        oracle_sf_dir,
        quantized_ann_candidates,
    )

    cands = quantized_ann_candidates(
        oracle_sf_dir(), k=20, refine=1, query_max_id=1
    )
    vals = ", ".join(f"({q}, {m})" for q, m in cands)
    bm25 = _bm25_sql(_BM25_TERMS, 20)
    return f"""
    with bm25r as ({bm25}),
    cand(query_id, match_id) as (values {vals}),
    ann_scored as (
      select c.match_id::BIGINT as doc_id,
             round(list_cosine_similarity(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(m.embedding, x -> cast(x as double))), 4) as s
      from cand c
      join embeddings q on q.vec_id = c.query_id
      join embeddings m on m.vec_id = c.match_id
    ),
    annr as (
      select doc_id, rank from (
        select doc_id, row_number() over (order by s desc, doc_id) as rank
        from ann_scored) t
      where rank <= 20
    ),
    fused as (
      select coalesce(b.doc_id, a.doc_id) as doc_id,
             round(coalesce(1.0 / (60.0 + b.rank), 0.0)
                   + coalesce(1.0 / (60.0 + a.rank), 0.0), 6) as score
      from bm25r b full outer join annr a on b.doc_id = a.doc_id
    ),
    ranked as (
      select doc_id, score,
             row_number() over (order by score desc, doc_id) as rank
      from fused)
    select doc_id, score, rank from ranked where rank <= {k}
    """


@register(
    "d18_hybrid_rrf",
    _hybrid_rrf_sql,
    doc="hybrid retrieval: reciprocal-rank fusion (kr=60) of the BM25 "
    "top-20 lexical ranking (d17's formula) with the int8-quantized ANN "
    "top-20 vector ranking for query vec_id=0 (refine=1 - rescore of "
    "the exactly-modeled integer coarse candidates). Both input ranks "
    "are deterministic ints (round-before-rank + id tie-breaks), the "
    "RRF sum is two exact IEEE divisions in fixed order, rounded to 6dp "
    "before the fused rank. Each ranking is top-k-bounded upstream, so "
    "the fusion join is trivially broadcastable at any corpus scale",
)
def d18(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.retrieval import bm25_topk, rrf_fuse
    from basis_devkit_spark.operators.similarity import quantized_topk

    d = load(spark, sf, "documents")
    emb = load(spark, sf, "embeddings")
    lex = bm25_topk(d, _BM25_TERMS, k=20)
    q0 = emb.filter(F.col("vec_id") < 1)
    ann = quantized_topk(q0, emb, k=20, refine=1, score_round=4).select(
        F.col("match_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, ann], k=10).select("doc_id", "score", "rank")


# Shared DuckDB CTE body for the bigram-LM pipeline (d19 scores it, d21
# buckets the resulting ranking, d23 runs it over the curated survivors)
# — ends at `lm(doc_id, n_bigrams, lm_score)`; `src` is the relation the
# LM is fit on.
def _bigram_lm_ctes(src: str = "documents") -> str:
    return f"""
    toks as (
      select doc_id, string_split(lower(coalesce(text, '')), ' ') as ws
      from {src}
    ),
    big as (
      select doc_id, ws[i] as w1, ws[i + 1] as w2
      from (select doc_id, ws, unnest(range(1, len(ws))) as i
            from toks where len(ws) >= 2)
    ),
    bc as (select w1, w2, count(*) as cb from big group by 1, 2),
    uc as (select w1, count(*) as cu
           from (select unnest(ws) as w1 from toks) group by 1),
    vv as (select count(distinct w1) as v
           from (select unnest(ws) as w1 from toks)),
    scored as (
      select b.doc_id,
             cast(floor(ln((bc.cb + 1.0) / (uc.cu + vv.v))
                        * 1000000000.0) as bigint) as lp
      from big b join bc using (w1, w2) join uc using (w1) cross join vv
    ),
    agg as (
      select doc_id, cast(count(*) as bigint) as n_bigrams,
             sum(lp) as slp
      from scored group by 1),
    lm as (
      select doc_id, n_bigrams,
             round(cast(slp as double) / n_bigrams / 1000000000.0, 6)
               as lm_score
      from agg)
"""


_BIGRAM_LM_CTES = _bigram_lm_ctes()


@register(
    "d19_bigram_lm_score",
    f"""
    with {_BIGRAM_LM_CTES}
    select doc_id, n_bigrams, lm_score from lm
    """,
    doc="corpus-fit bigram LM score per doc (perplexity-proxy quality "
    "filter, add-one smoothing, V and counts from this corpus): mean "
    "ln((c(w1,w2)+1)/(c(w1)+V)) over the doc's bigrams. Deterministic at "
    "scale via integerize-before-reduce: each log-prob is floored to a "
    "1e-9-scaled LONG before the per-doc sum, so the distributed "
    "aggregation is associative integer arithmetic (map-side combinable, "
    "bit-identical under any partitioning within an engine); DuckDB "
    "recomputes the identical integer pipeline in pure SQL — cross-engine "
    "agreement additionally rides JVM/libm ln agreeing at 1e-9 "
    "granularity, a ~3e-10/doc residual risk (see operator docstring)",
)
def d19(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import bigram_lm_score

    d = load(spark, sf, "documents")
    return bigram_lm_score(d).select("doc_id", "n_bigrams", "lm_score")


@register(
    "d20_ivf_quantized_topk",
    pyoracle.ivf_quantized_sql,
    doc="composed IVF × int8-scalar-quantized ANN top-5 (queries = vec_id "
    "< 30, corpus = all, seed-vector cells nlist=8, nprobe=4) — the "
    "production layout the d16 probe notes call for: the coarse pass is "
    "a cell EQUI-join touching only the probed cells' 1-byte-range codes "
    "(no all-pairs scan, no floats), candidates = top k*refine per query "
    "by the exact-integer centered-code dot, float cosine rescore on "
    "candidates only, 4dp round-before-rank. Candidate set exactly "
    "modeled (pyoracle.ivf_quantized_candidates: the proven d03c cell "
    "model composed with the proven d16 integer-code model); DuckDB does "
    "the float rescore",
)
def d20(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import ivf_quantized_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    return ivf_quantized_topk(
        q, emb, k=5, nlist=8, nprobe=4, refine=4,
        centroids=_ivf_seed_centroids(emb, 8), score_round=4,
    ).select("query_id", "match_id", "score", "rank")


@register(
    "d21_lm_quality_buckets",
    f"""
    with {_BIGRAM_LM_CTES},
    ranked as (
      select doc_id, n_bigrams, lm_score,
             row_number() over (order by lm_score desc, doc_id) as rnk,
             count(*) over () as n
      from lm)
    select doc_id, n_bigrams, lm_score,
           cast(((rnk - 1) * 3) // n as int) as bucket,
           case ((rnk - 1) * 3) // n
             when 0 then 'head' when 1 then 'middle' else 'tail'
           end as label
    from ranked
    """,
    doc="CCNet-style perplexity bucketing (head/middle/tail thirds of the "
    "corpus-fit bigram-LM ranking, best first, doc_id tie-break; bucket = "
    "((rank-1)*3) div N in exact integer arithmetic). The Spark side "
    "computes the global rank WITHOUT a single-reducer window — "
    "value-bucketed two-phase prefix (per-bucket parallel windows + an "
    "exclusive prefix over the bounded bucket list), deterministic under "
    "any partitioning; the oracle's plain row_number() must agree exactly",
)
def d21(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import lm_quality_buckets

    d = load(spark, sf, "documents")
    return lm_quality_buckets(d).select(
        "doc_id", "n_bigrams", "lm_score", "bucket", "label"
    )


@register(
    "d22_source_mixture_weights",
    """
    with c as (
      select source, cast(count(*) as bigint) as n_docs
      from documents group by 1
    ),
    t as (
      select cast(sum(n_docs) as bigint) as N,
             cast(max(n_docs) as bigint) as M
      from c
    )
    select source, n_docs,
           round(n_docs / N, 6) as share,
           round(pow(n_docs / M, 0.7), 6) as rel_weight
    from c cross join t
    """,
    doc="temperature-scaled mixture reweighting per source (XLM-R/mT5 "
    "multinomial data-mixing, alpha=0.7): share = n_s/N, rel_weight = "
    "(n_s/n_max)^alpha relative to the largest source — exact integer "
    "counts, one rational division + one pow per source (no float sum "
    "across sources whose reduction order could drift), 6dp-rounded. One "
    "hash agg + a one-row broadcast: flat at any corpus size",
)
def d22(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import source_mixture_weights

    d = load(spark, sf, "documents")
    return source_mixture_weights(d, alpha=0.7).select(
        "source", "n_docs", "share", "rel_weight"
    )


@register(
    "d23_quality_pipeline",
    f"""
    with lw as (
      select doc_id, text, string_split(lower(trim(text)), ' ') as ws
      from documents
    ),
    ls as (select doc_id, text,
      len(list_intersect(ws, {_LANG_ARR['en']})) as s_en,
      len(list_intersect(ws, {_LANG_ARR['de']})) as s_de,
      len(list_intersect(ws, {_LANG_ARR['fr']})) as s_fr,
      len(list_intersect(ws, {_LANG_ARR['es']})) as s_es,
      len(list_intersect(ws, {_LANG_ARR['zh']})) as s_zh
    from lw),
    en as (
      select doc_id, text from ls
      where greatest(s_en, s_de, s_fr, s_es, s_zh) > 0
        and s_en >= s_de and s_en >= s_fr and s_en >= s_es and s_en >= s_zh
    ),
    gw as (
      select doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') as words,
             string_split(text, chr(10)) as lines,
             length(text) - length(regexp_replace(text, '#', '', 'g')) as n_hash,
             (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3.0
               as n_ellipsis
      from en
    ), gs as (
      select doc_id, text, words,
             greatest(len(words), 1) as nw,
             greatest(len(lines), 1) as nl,
             n_hash, n_ellipsis,
             list_sum(list_transform(words, x -> length(x))) as word_chars,
             len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) as n_alpha,
             len(list_filter(lines,
                 x -> starts_with(x, '- ') or starts_with(x, '* ')
                      or starts_with(x, '•'))) as n_bullet,
             len(list_filter(lines, x -> x like '%...')) as n_ell_lines,
             (cast(list_contains(list_transform(words, x -> lower(x)), 'the') as int)
              + cast(list_contains(list_transform(words, x -> lower(x)), 'a') as int))
               as stop_count
      from gw
    ), gpass as (
      select doc_id, text
      from gs
      where len(words) between 50 and 100000
        and floor(word_chars / nw * 1000000.0 + 0.5) / 1000000.0 between 3.0 and 10.0
        and (n_hash + n_ellipsis) / nw <= 0.1
        and n_bullet / cast(nl as double) <= 0.9
        and n_ell_lines / cast(nl as double) <= 0.3
        and n_alpha / cast(nw as double) >= 0.8
        and stop_count >= 2
    ),
    nrm as (
      select doc_id, text,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),
                                 '\\s+', ' ', 'g')) as norm_text
      from gpass
    ),
    ded as (
      select doc_id, text from nrm
      qualify row_number() over (partition by norm_text order by doc_id) = 1
    ),
    {_bigram_lm_ctes("ded")},
    ranked as (
      select doc_id, n_bigrams, lm_score,
             row_number() over (order by lm_score desc, doc_id) as rnk,
             count(*) over () as n
      from lm)
    select doc_id, n_bigrams, lm_score,
           cast(((rnk - 1) * 3) // n as int) as bucket,
           case ((rnk - 1) * 3) // n
             when 0 then 'head' when 1 then 'middle' else 'tail'
           end as label
    from ranked
    """,
    doc="FineWeb/CCNet-style end-to-end curation pipeline in ONE composed "
    "plan: language-ID filter ('en' argmax, d04b's model) → Gopher rules "
    "(d04t's repertoire, corpus stopword list) → exact dedup on d04p's "
    "canonical normalization (keep smallest doc_id) → perplexity buckets "
    "(d21) with the bigram LM REFIT on the curated survivors. The oracle "
    "chains the same proven SQL fragments over the same filter "
    "boundaries — end-to-end exact-hash, demonstrating operator "
    "composition, not just isolated correctness",
)
def d23(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import quality_pipeline

    d = load(spark, sf, "documents").select("doc_id", "text")
    return quality_pipeline(d, stopwords=["the", "a"]).select(
        "doc_id", "n_bigrams", "lm_score", "bucket", "label"
    )


@register(
    "d24_deterministic_quality_filter",
    pyoracle.hashed_logreg_sql,
    doc="trained quality filter, DETERMINISTIC variant (closes d04r's "
    "rows-only gap the way d03d closed KMeans'): hashed-BoW logistic "
    "model fit driver-side by bit-reproducible float64 full-batch GD on "
    "the first-200-by-id sample (weak label: >=60 tokens), weights "
    "quantized to floor(w*1e9) LONGS and shared with the oracle; the "
    "distributed score is then an EXACT integer sum over xxhash64 token "
    "buckets (broadcast weight relation, map-side combinable) + one "
    "division + one sigmoid, 6dp round-before-output. The oracle "
    "recomputes feature hashing + scoring independently (pyoracle XXH64 "
    "model) for every doc",
)
def d24(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.quality_model import (
        fit_hashed_logreg,
        score_hashed_logreg,
    )

    d = load(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    labeled = d.withColumn("label", (F.size(toks) >= 60).cast("int"))
    sample = (
        labeled.orderBy("doc_id").limit(200).select("text", "label").collect()
    )
    wq, bias = fit_hashed_logreg([(r["text"], r["label"]) for r in sample])
    return score_hashed_logreg(d, wq, bias).select("doc_id", "quality_prob")


@register(
    "d25_hll_sketch_distinct",
    pyoracle.hll_sketch_sql,
    doc="XXH64-TZ distinct sketch (custom HLL-style, operators/sketches.py) "
    "— per-event-type user_id estimates (linear-counting branch at test "
    "SFs) + the global event_id estimate (raw HLL branch), each beside "
    "its exact count. Unlike the opaque built-in HLL++ (b22, rows-only "
    "forever), every stage here is engine-exact: integer trailing-zero "
    "ranks, MAX registers, the harmonic sum integerized as "
    "decimal(38,0) Σ2^(60-R) (never a float reduction), and a final "
    "double formula rounded before output — so the ESTIMATE itself is "
    "exact-hash oracled against an independent Python model",
)
def d25(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.sketches import hll_distinct

    ev = load(spark, sf, "events")
    per_type = hll_distinct(ev, "user_id", p=10, group_cols=["event_type"])
    exact_t = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    part1 = per_type.join(exact_t, "event_type").select(
        F.concat(F.lit("users:"), F.col("event_type")).alias("metric"),
        "est_distinct",
        "exact_distinct",
    )
    part2 = (
        hll_distinct(ev, "event_id", p=10)
        .crossJoin(
            F.broadcast(
                ev.agg(F.countDistinct("event_id").alias("exact_distinct"))
            )
        )
        .select(
            F.lit("event_ids").alias("metric"), "est_distinct", "exact_distinct"
        )
    )
    return part1.unionByName(part2)


@register(
    "d29_pq_topk",
    pyoracle.pq_ann_sql,
    doc="product-quantization ADC ANN top-5 (queries = vec_id < 30, corpus "
    "= all): deterministic seed-vector codebook (first ksub=16 ids, m=8 "
    "subspaces — a bounded TakeOrdered fit, no RNG), corpus coded to m "
    "small ints via argmin-L2 against the one-row broadcast codebook "
    "relation, coarse candidates = top k*refine per query by the EXACT-"
    "INTEGER sum of integerized ADC LUT hits (floor(l2^2 * 1e6) longs — "
    "associative, bit-identical under any partitioning), float cosine "
    "rescore on candidates only, 4dp-rounded before the final rank. The "
    "candidate set itself is exactly modeled in Python "
    "(pyoracle.pq_ann_candidates); DuckDB does the float rescore. The "
    "100 TB shape: the coarse scan reads m=8 ints per row instead of 64 "
    "floats (~32x fewer bytes than float32), queries ship only their "
    "m*ksub-long LUTs, and float vectors are read for |queries| x k x "
    "refine candidate rows",
)
def d29(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import pq_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    return pq_topk(q, emb, k=5, m=8, ksub=16, refine=4, score_round=4).select(
        "query_id", "match_id", "score", "rank"
    )


@register(
    "d30_bpe_learn_merges",
    pyoracle.bpe_merges_sql,
    doc="BPE vocabulary induction (Sennrich-style merge learning) on the "
    "documents corpus: ONE corpus scan builds the distinct-word frequency "
    "relation; each of the 8 merge rounds is a single vocabulary-sized "
    "hash agg (adjacent symbol pairs weighted by word count, exact "
    "integer sums) + a bounded one-row top-pair fetch (count desc, pair "
    "asc) + a pure-projection greedy merge rewrite. Entirely integer/"
    "string arithmetic — the learned merge table is exactly reproducible "
    "by the Python model (pyoracle.bpe_merges_model), the same literal-"
    "table oracle contract as d28. The 100 TB shape: iteration state is "
    "the distinct-word relation (millions of rows), never the corpus "
    "(trillions of tokens); exactly one vocabulary-sized frame stays "
    "pinned across rounds",
)
def d30(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import bpe_learn_merges

    docs = load(spark, sf, "documents")
    return bpe_learn_merges(docs, "text", num_merges=8).select(
        "merge_rank",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "merged",
        "pair_count",
    )


@register(
    "d33_bpe_batched_merges",
    lambda: pyoracle.bpe_merges_sql(num_merges=8, batch_merges=4),
    doc="batched BPE merge learning (batch_merges=4): the d30 scale path "
    "for production vocab sizes — classic BPE's rounds are inherently "
    "sequential (a 32k-merge vocabulary is 32k sequential jobs), so each "
    "round here fetches the top-4 pairs and greedily admits every pair "
    "whose symbols {left, right, merged} are disjoint from the pairs "
    "already admitted this round. Disjoint merges cannot create, destroy, "
    "or consume one another's adjacencies, so each admitted pair's count "
    "is exactly its pre-batch count and round count drops ~4x. "
    "Deterministic divergence from classic BPE only where classic's "
    "successive top pairs would overlap; the Python model mirrors the "
    "admission rule exactly (literal-table oracle, the d28/d30 contract)",
)
def d33(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import bpe_learn_merges

    docs = load(spark, sf, "documents")
    return bpe_learn_merges(
        docs, "text", num_merges=8, batch_merges=4
    ).select(
        "merge_rank",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "merged",
        "pair_count",
    )


@register(
    "d31_bpe_tokenized_packing",
    pyoracle.bpe_packing_sql,
    doc="END-TO-END tokenizer-exact packing: the d30-learned BPE merge "
    "table counts every document's REAL subwords via d40's counts-only "
    "indexed path (broadcast (word, n_sub) longs, map-side-combinable "
    "SUM — counts proven equal to the full bpe_apply greedy fold by "
    "the d37/d40 oracles, and the fold's per-rank nested expressions "
    "are a Catalyst killer at a production 32k-merge vocabulary) and "
    "the counts feed "
    "sequence_pack's bucketed two-phase prefix (d11's layout shape with "
    "the tokenizer measure r6 task 7 called for, no whitespace stand-"
    "in). All-integer: the oracle chains the independent Python BPE "
    "model's per-doc counts (pyoracle.bpe_token_counts_model) into the "
    "same packing SQL. 100 TB: one corpus scan learns the vocab-bounded "
    "merges, counting is a broadcast vocab join + one map-side-combined "
    "SUM, packing adds the two bucketed prefix aggs — no global window "
    "anywhere",
)
def d31(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
        release_tokenizer_vocab,
    )
    from basis_devkit_spark.operators.text import sequence_pack

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    counted = bpe_token_counts_indexed(docs, vocab, mt)
    out = sequence_pack(counted, budget=2048, n_tokens_col="n_bpe_tokens")
    # materialize, then drop the pinned vocab checkpoint (see d37)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


@register(
    "d37_bpe_indexed_tokens",
    pyoracle.bpe_indexed_tokens_sql,
    doc="vocabulary-indexed BPE tokenization (bpe_apply_indexed): the "
    "apply-side scale path closing d33's learn-side fix — bpe_apply "
    "builds one nested merge fold PER RANK (plan depth linear in vocab "
    "size, a Catalyst analysis/codegen killer at a production 32k-merge "
    "tokenizer), so the fit emits the tokenized vocabulary (word, "
    "subwords) as a build-once artifact (emit_vocab=True — the evolving "
    "word-symbols frame already holds it, ZERO extra passes) and apply "
    "becomes posexplode words -> broadcast vocab join -> regroup by doc "
    "with position sort -> flatten: plan depth CONSTANT in merge count, "
    "merges live in data not expressions. Result fingerprint = per-doc "
    "token count + md5 of the space-joined token sequence, exact-hash "
    "oracled vs the independent Python model (pyoracle.bpe_tokens_model "
    "— the full SEQUENCE, proving the join-and-regroup preserves greedy-"
    "fold order). 100 TB: vocab relation is millions of rows "
    "(broadcast while its plan size estimate fits the vocab byte "
    "budget, a shuffled hash join beyond it), "
    "cost is one corpus regroup shuffle vs a 32k-deep expression tree "
    "that never compiles",
)
def d37(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_apply_indexed,
        bpe_learn_merges,
        release_tokenizer_vocab,
    )

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    out = bpe_apply_indexed(docs, vocab, mt).select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("tok_md5"),
    )
    # the result lineage roots at the vocab's checkpoint blocks:
    # materialize the (small) result, then release the vocabulary-sized
    # block set deterministically instead of pinning one per query run
    # until GC + ContextCleaner (mirrors tokenizer_fit.py)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


@register(
    "d41_shuffled_packing",
    pyoracle.shuffled_packing_sql,
    doc="sequence packing in DETERMINISTIC SHUFFLED order "
    "(sequence_pack_shuffled, budget=512): adjacent ids are corpus-"
    "correlated (same crawl host/shard), so id-order packing puts "
    "correlated docs in the same training sequence — the layout order "
    "here is xxhash64(doc_id, salt) with the id as collision tie-break "
    "(hash ties are certain at trillion-row scale; an untied window "
    "would be nondeterministic exactly there), fully reproducible with "
    "no RNG state. Prefix buckets come from the hash's TOP 12 BITS "
    "(4,096 buckets) — value-range bucketing under a uniform hash "
    "would hold ~1 row per bucket and blow the bucket table to row "
    "count. Oracle: literal rank table from the Python xxh64 chain "
    "model + the d11 count/prefix SQL in that order",
)
def d41(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import sequence_pack_shuffled

    return sequence_pack_shuffled(
        load(spark, sf, "documents"), budget=512
    ).select(
        "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id", "seq_offset",
    )


@register(
    "d40_bpe_counts_indexed",
    pyoracle.bpe_counts_indexed_sql,
    doc="counts-only vocabulary-indexed tokenization "
    "(bpe_token_counts_indexed): the packing-path shortcut over d37 — "
    "when downstream needs only n_tokens (sequence packing, shard "
    "planning), the position-sorted token-array regroup is wasted work, "
    "so the vocabulary broadcasts as (word, n_sub) LONGS and the "
    "per-doc count is one SUM: map-side combinable, the regroup shuffle "
    "carries one long per (doc, partition) instead of per-word token "
    "arrays. Must agree exactly with the full d37 tokenization's "
    "counts (same independent Python model, counts projection)",
)
def d40(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
        release_tokenizer_vocab,
    )

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    out = bpe_token_counts_indexed(docs, vocab, mt).select(
        "doc_id", "n_bpe_tokens"
    )
    # materialize, then drop the pinned vocab checkpoint (see d37)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


@register(
    "d42_tokenized_shuffled_packing",
    pyoracle.tokenized_shuffled_packing_sql,
    doc="the packing stage as the flagship example now runs it: d40's "
    "counts-only indexed tokenization CHAINED into d41's deterministic "
    "shuffled packing — per-doc budget positions come from REAL learned-"
    "tokenizer subword counts (broadcast (word, n_sub) longs, map-side-"
    "combinable SUM) laid out in xxhash64(doc_id, salt) order with id "
    "tie-break (decorrelates same-host/same-shard neighbors inside a "
    "training sequence, zero RNG state). Oracle = literal composition "
    "of the two proven independent models (bpe_tokens_model counts + "
    "the signed-xxh64 rank chain + the d11 prefix SQL). 100 TB: one "
    "corpus shuffle for the counts regroup + the two bounded bucketed "
    "prefix aggs (4,096-row bucket table at any corpus size) — no "
    "global window, no token arrays in any exchange",
)
def d42(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
        release_tokenizer_vocab,
    )
    from basis_devkit_spark.operators.text import sequence_pack_shuffled

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    counted = bpe_token_counts_indexed(docs, vocab, mt)
    out = sequence_pack_shuffled(
        counted, budget=512, n_tokens_col="n_bpe_tokens"
    ).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_bpe_tokens"),
        "seq_id",
        "seq_offset",
    )
    # materialize, then drop the pinned vocab checkpoint (see d37)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


@register(
    "d38_jl_ivf_quantized_topk",
    pyoracle.jl_ivf_quantized_sql,
    doc="JL x IVF x int8 composed ANN top-5 (queries = vec_id < 30, "
    "corpus = all, reduced-space seed-vector cells nlist=8, nprobe=4) — "
    "d35's dimension cut grafted onto d20's persisted index layout, the "
    "two byte reductions composing on independent axes: the coarse pass "
    "touches 16 int8 codes per probed corpus row (16 B) vs d20's 64 "
    "(64 B) vs raw float32 (256 B) — 16x total. Both sides pass through "
    "the exact-integer JL projection; cells + per-dim [min,max] int8 "
    "codes are fitted IN THE REDUCED SPACE; coarse ranking = exact-"
    "integer centered-code dot; rescore = float cosine on the ORIGINAL "
    "full-dimension vectors, 4dp round-before-rank. Candidate set "
    "exactly modeled (pyoracle.jl_ivf_candidates: the proven JL-long "
    "model composed with the proven d03c cell + d16 code models); "
    "DuckDB does the float rescore. 100 TB: coarse bytes/row 16 vs 256, "
    "all artifacts bounded (nlist centroids, out_dim quant rows) and "
    "streaming-maintainable via the c15 ingest projection",
)
def d38(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import jl_ivf_quantized_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    return jl_ivf_quantized_topk(
        q, emb, k=5, nlist=8, nprobe=4, refine=4, score_round=4
    ).select("query_id", "match_id", "score", "rank")


@register(
    "d39_langid_softmax",
    pyoracle.langid_softmax_sql,
    doc="TRAINED multiclass language ID (hashed char-bigram softmax) — "
    "the production path beside the d04b n-gram heuristic, built on the "
    "d24 deterministic-fit contract extended to multiclass: full-batch "
    "float64 softmax GD driver-side on the even-id half of a planted "
    "multilingual fixture corpus (the synthetic documents table's lang "
    "label is uncorrelated with its text, so fixtures carry the "
    "signal), weights AND biases quantized to floor(1e9) longs, and the "
    "distributed argmax an EXACT integer comparison: explode char "
    "bigrams -> broadcast (bucket, cls, wq) join -> one hash agg -> "
    "struct-min argmax (ties -> smallest class). 95% held-out accuracy "
    "on the odd-id half (asserted in pytest). Oracle reimplements fit + "
    "scoring end-to-end (pyoracle.langid_softmax_labels). 100 TB: "
    "scoring is one scan + a 5,120-row broadcast relation + two "
    "map-side-combinable aggs — no Python in the hot path",
)
def d39(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.quality_model import (
        fit_hashed_softmax,
        score_hashed_softmax,
    )

    classes = list(pyoracle.LANGID_CLASSES)
    cls_idx = {c: i for i, c in enumerate(classes)}
    fixtures = local_relation(
        spark, list(pyoracle.LANGID_FIXTURES),
        "doc_id long, true_lang string, text string",
    )
    train = [
        (t, cls_idx[l])
        for i, l, t in pyoracle.LANGID_FIXTURES
        if i % 2 == 0
    ]
    weight_rows, bq = fit_hashed_softmax(train, num_classes=len(classes))
    return score_hashed_softmax(fixtures, weight_rows, bq, classes).select(
        "doc_id", "lang"
    )


_HIST_QUANTILE_SQL = """
    with fit as (
      select min(cast(l_extendedprice as double)) as lo,
             max(cast(l_extendedprice as double)) as hi,
             (max(cast(l_extendedprice as double))
              - min(cast(l_extendedprice as double))) / 1024.0 as width
      from lineitem
    ), binned as (
      select case when f.width = 0 then 0
                  else cast(least(greatest(floor(
                    (cast(l.l_extendedprice as double) - f.lo) / f.width), 0),
                    1023) as bigint) end as bin
      from lineitem l cross join fit f
      where l.l_extendedprice is not null
    ), hist as (
      select cast(bin as int) as bin, count(*) as cnt from binned group by bin
    ), cum as (
      select bin, cnt, sum(cnt) over (order by bin
               rows between unbounded preceding and current row) as cum
      from hist
    ), total as (select cast(sum(cnt) as bigint) as n from hist),
    qsv(q) as (values (0.25), (0.5), (0.75), (0.9), (0.99)),
    hits as (
      select q, ceil(q * cast(n as double)) as target, bin
      from cum cross join total cross join qsv
      where cum >= ceil(q * cast(n as double))
    ), first as (
      select q, target, min(bin) as bin from hits group by q, target
    )
    select cast(fr.q as double) as q,
           round(f.lo + f.width * (cast(c.bin as double)
                 + cast(fr.target - (c.cum - c.cnt) as double)
                   / cast(c.cnt as double)), 6) as est
    from first fr join cum c using (bin) cross join fit f
    """



@register(
    "d32_hist_quantile_sketch",
    _HIST_QUANTILE_SQL,
    doc="fixed-histogram quantile sketch over l_extendedprice (nbins="
    "1024): completes the engine-exact sketch family (bloom membership, "
    "HLL-style distinct, count-min frequency, now quantiles). Bin "
    "counts are integer SUMs (mergeable, partition-order-free — halves "
    "summed equal the full build, tested), edges come from the exact "
    "min/max fit, and the interpolated estimate is the SAME IEEE-double "
    "formula in both engines — a shared-SQL oracle, no literal table. "
    "Estimate error is bounded by one bin width. 100 TB: sketch state "
    "is <= nbins rows regardless of data; the only window runs over "
    "the bounded bin relation",
)
def d32(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.sketches import (
        hist_build,
        hist_fit,
        hist_quantiles,
    )

    li = load(spark, sf, "lineitem")
    fit = hist_fit(li, "l_extendedprice", 1024)
    hist = hist_build(li, "l_extendedprice", 1024, fit=fit)
    return hist_quantiles(hist, fit, [0.25, 0.5, 0.75, 0.9, 0.99])


@register(
    "c17_stream_hist_maintenance",
    _HIST_QUANTILE_SQL,
    doc="streaming quantile-sketch maintenance: lineitem arrives as TWO "
    "micro-batches; each batch's histogram bins (built against the "
    "PERSISTED fit artifact — edges are fixed at fit time, the "
    "build-once contract) SUM-merge into an exactly-once managed store "
    "via stream_merge_to_store. Bin counts merge losslessly by +, so "
    "quantiles read from the streamed store must equal the one-shot d32 "
    "oracle byte-for-byte — the fourth sketch (after ANN cells c14, "
    "quantized index c15, HLL registers c16) proven incrementally "
    "maintainable at crawl cadence",
)
def c17(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.sketches import (
        hist_build,
        hist_fit,
        hist_quantiles,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    li = load(spark, sf, "lineitem")
    fit = hist_fit(li, "l_extendedprice", 1024)

    tmp = _tf.mkdtemp(prefix="bds_c17_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        li.filter(F.col("l_orderkey") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        bins = hist_build(batch, "l_extendedprice", 1024, fit=fit)
        if existing is None:
            return bins
        prev = existing.select("bin", F.col("cnt").alias("__prev_cnt"))
        return bins.join(prev, "bin", "full").select(
            "bin",
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("__prev_cnt"), F.lit(0))
            ).alias("cnt"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "hist_bins", spark)
    store.configure(unique_on="bin")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return hist_quantiles(store.read(), fit, [0.25, 0.5, 0.75, 0.9, 0.99])


@register(
    "c18_stream_pagerank_maintenance",
    pyoracle.pagerank_sql,
    doc="streaming graph-signal maintenance: the customer→supplier "
    "purchase edges arrive as TWO micro-batches into an exactly-once "
    "edge store (stream_merge_to_store, unique_on=(src,dst) — the "
    "distinct edge set is exactly the state pagerank_fixed_point "
    "consumes), then ranks recomputed over the streamed store equal the "
    "one-shot d28 oracle byte-for-byte (exact scaled-integer ranks — "
    "order/partition-free). Completes the streaming-maintenance family: "
    "ANN cells c14, quantized index c15, HLL c16, histogram c17, now "
    "the graph signal. 100 TB: the edge store absorbs crawl-cadence "
    "edge arrivals incrementally; rank recomputation is the same "
    "bounded per-iteration join+agg as d28, on state that never "
    "re-ingests the history",
)
def c18(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.graphrank import pagerank_fixed_point
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    o = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    edges = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )

    tmp = _tf.mkdtemp(prefix="bds_c18_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        edges.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(2)) == mod).coalesce(
            1
        ).write.parquet(part_dir)
        src_f = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src_f, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        # per-key combine IS last-write-wins here (edges carry no
        # payload): distinct within the batch, upsert dedups vs store
        return batch.select("src", "dst").distinct()

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "edges", spark)
    store.configure(unique_on=["src", "dst"])
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return pagerank_fixed_point(
        store.read(), iters=10, raw_scaled=True
    ).select("node", "rank_scaled")


@register(
    "d34_dsir_importance_scores",
    pyoracle.dsir_scores_sql,
    doc="DSIR-style hashed n-gram importance weighting (Xie et al. 2023 "
    "— 'make CommonCrawl look like Wikipedia'): score every raw document "
    "by the log-likelihood ratio of hashed bag-of-ngrams models fit on a "
    "target set (source='src0') vs the raw corpus. Feature extraction is "
    "a pure column expression (unigram+bigram occurrences hashed to 4096 "
    "buckets via pmod(xxhash64)); counts are ONE hash agg per side; the "
    "Laplace-smoothed log-ratio weights are a bounded driver-side fit "
    "(floor(1e6*Δln), the d24 contract — floats live in one runtime), "
    "then scoring is explode + broadcast weight join + integer SUM: no "
    "cross-engine float op anywhere, exact-hash oracled vs the "
    "independent Python model. 100 TB: two scans to fit (raw counts are "
    "a mergeable persistable artifact), one scan + broadcast join + one "
    "agg to score; no gram strings shuffle beyond the bounded count aggs",
)
def d34(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dsir import dsir_pipeline

    docs = load(spark, sf, "documents")
    target = docs.filter(F.col("source") == "src0")
    return dsir_pipeline(docs, target, "text", "doc_id")


@register(
    "d35_jl_projection",
    pyoracle.jl_project_sql,
    doc="Johnson-Lindenstrauss random projection (Achlioptas ±1 "
    "construction) of the 64-d embeddings to 16-d with a DETERMINISTIC "
    "hashed sign matrix — the cheap dimension cut that shrinks every "
    "downstream shuffle/cache/ANN-distance 4x. A PURE PROJECTION: no "
    "shuffle, no UDF, no fit artifact (the matrix IS a hash function). "
    "Components are exact integer sums of ±(value·1e9) longs (the "
    "float32→double→decimal(18,9) path), so the result is order/"
    "partition/engine-invariant; only the hash-derived sign matrix is a "
    "literal in the oracle — DuckDB recomputes the scaled longs and the "
    "signed sums from the parquet itself",
)
def d35(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import jl_project

    emb = load(spark, sf, "embeddings")
    proj = jl_project(emb, "embedding", "jl", out_dim=16)
    return proj.select(
        "vec_id", F.posexplode("jl").alias("j", "comp")
    ).select("vec_id", F.col("j").cast("int").alias("j"), "comp")


@register(
    "d36_jl_ann_topk",
    pyoracle.jl_ann_sql,
    doc="JL-coarse ANN top-5 (queries = vec_id < 30, corpus = all): both "
    "sides pass through the d35 exact-integer JL projection (STATELESS — "
    "no fit artifact to maintain, unlike d16's corpus stats), codes = "
    "arithmetic-shift downscale (>>7, bit-identical in the Python "
    "model), coarse candidates = top k*refine by the exact int64 code "
    "dot, float cosine rescore on candidates only. The coarse scan reads "
    "16 ints (64 B)/row vs 64 floats (256 B) — a 4x byte cut on the "
    "DIMENSION axis that composes with d16's int8 cell narrowing. "
    "Candidate set exactly modeled (pyoracle.jl_ann_candidates); DuckDB "
    "does the float rescore",
)
def d36(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import jl_topk

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    return jl_topk(q, emb, k=5, refine=4, score_round=4).select(
        "query_id", "match_id", "score", "rank"
    )


@register(
    "c19_stream_dsir_maintenance",
    pyoracle.dsir_scores_sql,
    doc="streaming DSIR maintenance: the raw corpus arrives as TWO "
    "micro-batches; each batch's hashed-gram bucket counts SUM-merge "
    "into an exactly-once managed store (stream_merge_to_store — the "
    "c17 pattern; counts are integer and associative, so the streamed "
    "fold is lossless), then the weight fit + scoring run against the "
    "maintained count state and must equal the one-shot d34 oracle "
    "byte-for-byte. The production shape: the raw-count artifact "
    "absorbs corpus growth at crawl cadence; re-scoring never re-counts "
    "history",
)
def c19(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_score,
        dsir_weights,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    docs = load(spark, sf, "documents")
    tmp = _tf.mkdtemp(prefix="bds_c19_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        docs.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src_f = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src_f, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        cnts = dsir_bucket_counts(batch)
        if existing is None:
            return cnts
        prev = existing.select("bucket", F.col("cnt").alias("__prev"))
        return cnts.join(prev, "bucket", "full").select(
            "bucket",
            (
                F.coalesce(F.col("cnt"), F.lit(0))
                + F.coalesce(F.col("__prev"), F.lit(0))
            ).alias("cnt"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "dsir_counts", spark)
    store.configure(unique_on="bucket")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    target = docs.filter(F.col("source") == "src0")
    tc = dsir_bucket_counts(target)
    rows, default_w = dsir_weights(store.read(), tc)
    return dsir_score(docs, rows, default_w=default_w)


@register(
    "c20_stream_jl_index_ingest",
    pyoracle.jl_ivf_quantized_sql,
    doc="streaming maintenance of the JL-composed index (the crawl-feed "
    "ingest shape for d38): the corpus arrives as TWO micro-batches; "
    "each batch flows through jl_quantized_cells_assign — the stateless "
    "exact-integer JL projection chained into cell argmax + int8 code "
    "floor against the FIXED reduced-space artifacts (centroids + "
    "per-dim stats), pure per-row projections, no fit, no shuffle — "
    "into an exactly-once UPSERT cells store. The JL projection needs "
    "NO artifact maintenance at all (the matrix is a hash function), so "
    "the only streamed state is the 16-byte code relation; incremental "
    "assignment arithmetic is byte-identical to a full build and "
    "querying the streamed index must equal the one-shot d38 oracle "
    "exactly",
)
def c20(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.embeddings import jl_project
    from basis_devkit_spark.operators.similarity import (
        fit_scalar_quantizer,
        jl_ivf_quantized_topk_indexed,
        jl_quantized_cells_assign,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_upsert_to_store

    emb = load(spark, sf, "embeddings")
    q_side = emb.filter(F.col("vec_id") < 30)
    # fixed artifacts, derived exactly as d38's one-shot defaults
    cr = (
        jl_project(
            emb.select(F.col("vec_id").alias("match_id"), "embedding"),
            "embedding", "__jlr", 16, 42,
        )
        .select("match_id", F.col("__jlr_f").alias("__rv"))
        .localCheckpoint(eager=False)
    )
    cent_rows = cr.orderBy("match_id").limit(8).collect()
    centroids = [
        (i, [float(x) for x in r["__rv"]]) for i, r in enumerate(cent_rows)
    ]
    quant = fit_scalar_quantizer(cr, "__rv")

    tmp = _tf.mkdtemp(prefix="bds_c20_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        emb.filter(F.col("vec_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    assigned = jl_quantized_cells_assign(stream, centroids, quant)
    store = TableStore(tmp, "jl_cells", spark)
    store.configure(unique_on="vec_id")
    q = stream_upsert_to_store(assigned, store, f"{tmp}/_ckpt").start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return jl_ivf_quantized_topk_indexed(
        q_side, store.read(), emb, centroids, quant, k=5, nprobe=4,
        refine=4, score_round=4,
    ).select("query_id", "match_id", "score", "rank")


@register(
    "c21_stream_bpe_vocab_maintenance",
    pyoracle.bpe_merges_sql,
    doc="streaming BPE vocabulary maintenance: the corpus arrives as TWO "
    "micro-batches; each batch's distinct-word frequencies SUM-merge "
    "into an exactly-once managed store (stream_merge_to_store — "
    "integer counts are associative, the streamed fold is lossless), "
    "then bpe_learn_merges runs on the MAINTAINED word relation "
    "(words=...) and must equal the one-shot d30 oracle byte-for-byte. "
    "The production shape: the tokenizer's ONLY corpus-wide input is "
    "the word-frequency relation, so crawl-cadence arrivals update "
    "counts incrementally and a refit never re-reads history — "
    "completing the streamed-state story for the BPE family (d30/d33 "
    "learn, d37 apply)",
)
def c21(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.bpe import bpe_learn_merges
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    docs = load(spark, sf, "documents")
    tmp = _tf.mkdtemp(prefix="bds_c21_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        docs.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src_f = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src_f, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def word_weights(batch: DataFrame) -> DataFrame:
        toks = F.explode(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
        ).alias("word")
        return (
            batch.select(toks)
            .filter(F.col("word") != "")
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("weight"))
        )

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        w = word_weights(batch)
        if existing is None:
            return w
        prev = existing.select("word", F.col("weight").alias("__prev"))
        return w.join(prev, "word", "full").select(
            "word",
            (
                F.coalesce(F.col("weight"), F.lit(0))
                + F.coalesce(F.col("__prev"), F.lit(0))
            ).alias("weight"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "bpe_words", spark)
    store.configure(unique_on="word")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return bpe_learn_merges(
        docs, num_merges=8, words=store.read()
    ).select(
        "merge_rank",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "merged",
        "pair_count",
    )


def _stream_drop_dir(spark, df, prefix: str, conds):
    """Shared scaffold for the file-source streaming queries (c22/c23/
    c24): write ``df`` split by the ordered ``conds`` predicates into a
    drop directory, one parquet file per micro-batch, with PINNED
    mtimes so the file source's batch order IS the list order (the
    arrival-order invariant the cursor-carrying queries depend on).
    Returns ``(tmp_root, drop_dir, schema)``."""
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    tmp = _tf.mkdtemp(prefix=prefix)
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    first = None
    for i, cond in enumerate(conds):
        tag = chr(ord("a") + i)
        part_dir = _os.path.join(tmp, f"part_{tag}")
        df.filter(cond).coalesce(1).write.parquet(part_dir)
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        dst = _os.path.join(drop, f"{tag}.parquet")
        _shutil.copy(src, dst)
        _os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        if first is None:
            first = dst
    return tmp, drop, spark.read.parquet(first).schema


@register(
    "c22_stream_tokenized_counts",
    pyoracle.bpe_counts_indexed_sql,
    doc="streaming tokenization against FIXED tokenizer artifacts — the "
    "apply-side streaming story completing c21's learn side: documents "
    "arrive as TWO micro-batches; each batch's exact subword counts "
    "(bpe_token_counts_indexed against the persisted merge table + "
    "vocabulary — broadcast (word, n_sub) longs, one batch-local SUM) "
    "upsert into an exactly-once store keyed by doc_id. Tokenization "
    "is a pure per-doc function of the fixed artifacts, so incremental "
    "arrival must equal the one-shot d40 oracle byte-for-byte; the "
    "production shape: crawl-cadence docs tokenize on ingest, a "
    "tokenizer refit (c21) triggers one re-tokenization pass, never a "
    "re-read of raw history at query time",
)
def c22(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
        release_tokenizer_vocab,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    docs = load(spark, sf, "documents")
    # fixed artifacts: one-shot fit on the full corpus (the c21-
    # maintained word relation in production)
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)

    tmp, drop, raw_schema = _stream_drop_dir(
        spark, docs, "bds_c22_",
        [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1],
    )

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        counted = bpe_token_counts_indexed(batch, vocab, mt).select(
            "doc_id", "n_bpe_tokens"
        )
        if existing is None:
            return counted
        # doc_ids never repeat across batches here; union is the merge
        return counted.unionByName(
            existing.join(counted.select("doc_id"), "doc_id", "left_anti")
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "tok_counts", spark)
    store.configure(unique_on="doc_id")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the stream is done consuming the fixed artifacts: drop the pinned
    # vocab checkpoint (the store holds the results; see d37)
    release_tokenizer_vocab(vocab)
    return store.read().select("doc_id", "n_bpe_tokens")


@register(
    "c23_stream_incremental_packing",
    """
    with t as (
      select doc_id,
             cast(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
               as bigint) as n_tokens
      from documents
    ), c as (
      select doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) over (order by doc_id
                     rows between unbounded preceding and 1 preceding),
                   0) as bigint) as cb
      from t
    )
    select doc_id, n_tokens,
           cast(floor(cb / 512.0) as bigint) as seq_id,
           cast(cb % 512 as bigint) as seq_offset
    from c
    """,
    doc="incremental sequence packing for append-only corpora (r10 "
    "verdict task 6) — the streaming completion of the LAST batch-only "
    "pretrain stage: documents arrive as TWO id-ordered micro-batches; "
    "each batch is laid out by sequence_pack_append starting from the "
    "PERSISTED one-row pack cursor (state store: total_tokens / "
    "last_seq_id / last_seq_offset), layout rows upsert exactly-once "
    "keyed by doc_id, and the streamed result must equal the ONE-SHOT "
    "d11-style pack of the concatenated corpus byte-for-byte (seq "
    "ids/offsets are pure functions of the absolute cumulative count). "
    "100 TB: per-batch cost is batch-sized — one batch prefix + a "
    "one-row state read/write; packed history is never re-read, never "
    "rewritten",
)
def c23(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_pack_append_to_store

    docs = load(spark, sf, "documents")
    half = docs.count() // 2
    # id-RANGE batches (not id-parity): arrival order == global id
    # order, so the one-shot oracle is the plain d11 prefix
    tmp, drop, raw_schema = _stream_drop_dir(
        spark, docs, "bds_c23_",
        [F.col("doc_id") < half, F.col("doc_id") >= half],
    )

    layout_store = TableStore(tmp, "packed", spark)
    layout_store.configure(unique_on="doc_id")
    state_store = TableStore(tmp, "pack_state", spark)
    state_store.configure(unique_on="state_id")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_pack_append_to_store(
        stream, layout_store, state_store, f"{tmp}/_ckpt", budget=512
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return layout_store.read().select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
    )


@register(
    "c24_stream_tokenize_pack",
    pyoracle.bpe_packing_sql_512,
    doc="the COMPLETE streaming pretrain tail — c22's tokenize-on-"
    "ingest chained into c23's incremental packing in ONE exactly-once "
    "sink: document micro-batches tokenize on arrival against FIXED "
    "tokenizer artifacts (bpe_token_counts_indexed — a pure per-doc "
    "function, so replays prepare identically) and the real subword "
    "counts feed sequence_pack_append from the persisted one-row "
    "cursor; the streamed layout must equal the one-shot d31-style "
    "pack (BPE counts model + d11 prefix, budget 512) byte-for-byte. "
    "With c21 (vocab maintenance) this closes the loop: every stage "
    "of tokenizer fit -> apply -> pack now runs incrementally with "
    "batch-sized cost and no raw-history rescans",
)
def c24(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
        release_tokenizer_vocab,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_pack_append_to_store

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    half = docs.count() // 2
    tmp, drop, raw_schema = _stream_drop_dir(
        spark, docs, "bds_c24_",
        [F.col("doc_id") < half, F.col("doc_id") >= half],
    )

    def tokenize(batch: DataFrame) -> DataFrame:
        return bpe_token_counts_indexed(batch, vocab, mt).select(
            "doc_id", "n_bpe_tokens"
        )

    layout_store = TableStore(tmp, "packed", spark)
    layout_store.configure(unique_on="doc_id")
    state_store = TableStore(tmp, "pack_state", spark)
    state_store.configure(unique_on="state_id")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_pack_append_to_store(
        stream, layout_store, state_store, f"{tmp}/_ckpt", budget=512,
        n_tokens_col="n_bpe_tokens", prepare_fn=tokenize,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the stream is done consuming the fixed artifacts: drop the pinned
    # vocab checkpoint (the store holds the results; see d37)
    release_tokenizer_vocab(vocab)
    return layout_store.read().select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
    )


@register(
    "d43_bpe_roundtrip",
    """
    select doc_id,
           trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' '))
             as text_decoded
    from documents
    """,
    doc="lossless-tokenization invariant (bpe_decode): decoding the "
    "vocabulary-indexed tokenization — concatenate subwords, end-of-"
    "word markers back to spaces — must reproduce the whitespace/"
    "lowercase-NORMALIZED input text exactly, for every doc including "
    "empty/null text. BPE merges only regroup characters, so the "
    "oracle never runs a tokenizer: the round trip is derivable from "
    "the input alone, which is what makes this a true end-to-end "
    "integrity check of learn -> emit vocab -> indexed apply -> "
    "decode (any dropped word, reordered position, or corrupted "
    "subword breaks the hash). Pure projections on both ends",
)
def d43(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_apply_indexed,
        bpe_decode,
        bpe_learn_merges,
        release_tokenizer_vocab,
    )

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    toks = bpe_apply_indexed(docs, vocab, mt)
    out = bpe_decode(toks).select("doc_id", "text_decoded")
    # materialize, then drop the pinned vocab checkpoint (see d37)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


@register(
    "d44_repetition_signals",
    """
    with l as (  -- untrimmed char count, trimmed-nonempty membership like Spark
      select doc_id, x as line, len(x) as nch
      from (select doc_id,
                   unnest(string_split(coalesce(text, ''), chr(10))) as x
            from documents)
      where trim(x) <> ''
    ), la as (
      select doc_id, count(*) as n_lines, count(distinct line) as n_dist,
             sum(nch) as all_chars
      from l group by doc_id
    ), ld as (
      select doc_id, sum(one_len) as dist_chars
      from (select doc_id, line, min(nch) as one_len
            from l group by doc_id, line)
      group by doc_id
    ), base as (
      select d.doc_id,
             case when la.n_lines > 0 then
               floor((la.n_lines - la.n_dist) * 1.0 / la.n_lines
                     * 1000000.0 + 0.5) / 1000000.0 else 0.0 end
               as dup_line_fraction,
             case when la.all_chars > 0 then
               floor((la.all_chars - ld.dist_chars) * 1.0 / la.all_chars
                     * 1000000.0 + 0.5) / 1000000.0 else 0.0 end
               as dup_line_char_fraction
      from documents d
      left join la using (doc_id) left join ld using (doc_id)
    ), w as (
      select doc_id, ord, word from (
        select doc_id, unnest(words) as word,
               generate_subscripts(words, 1) as ord
        from (select doc_id,
                     list_filter(regexp_split_to_array(
                       lower(trim(coalesce(text, ''))), '\\s+'),
                       x -> x <> '') as words
              from documents)
      )
    ), g as (
      select a.doc_id, a.word || ' ' || b.word as gram
      from w a join w b on a.doc_id = b.doc_id and b.ord = a.ord + 1
    ), gc as (
      select doc_id, gram, count(*) as c from g group by doc_id, gram
    ), gt as (
      select doc_id, c as top_c, total from (
        select doc_id, gram, c,
               sum(c) over (partition by doc_id) as total,
               row_number() over (partition by doc_id
                                  order by c desc, gram) as rn
        from gc) where rn = 1
    )
    select b.doc_id,
           coalesce(b.dup_line_fraction, 0.0) as dup_line_fraction,
           coalesce(b.dup_line_char_fraction, 0.0) as dup_line_char_fraction,
           cast(coalesce(gt.top_c, 0) as bigint) as top_bigram_count,
           case when gt.total > 0 then
             floor(gt.top_c * 1.0 / gt.total * 1000000.0 + 0.5) / 1000000.0
             else 0.0 end as top_bigram_fraction
    from base b left join gt using (doc_id)
    """,
    doc="within-document repetition signals — the Gopher repetition "
    "rules (Rae et al. 2021 §A1.1) completing the d04t flag set: "
    "duplicate-line fraction + duplicate-line CHARACTER fraction (pure "
    "per-row HOF expressions over the line array — no shuffle) and the "
    "top word-bigram count/fraction (explode -> one (doc, gram) hash "
    "agg -> struct-min argmax with deterministic smallest-gram "
    "tie-break -> join back: two map-side-combinable shuffles, no "
    "window, no per-doc quadratic work). Fractions floor-scaled at "
    "1e6 with integer numerators so both engines compute the identical "
    "double. Boilerplate/degenerate docs score high here while passing "
    "simple length gates",
)
def d44(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import repetition_signals

    return repetition_signals(load(spark, sf, "documents"))


@register(
    "e15_dau_wau_stickiness",
    """
    with act as (
      select distinct cast(ts as date) as day, user_id
      from events where ts is not null and user_id is not null
    ), dau as (
      select day, cast(count(*) as bigint) as dau from act group by day
    ), contrib as (
      select distinct day + cast(x as int) as day, user_id
      from act, unnest(generate_series(0, 6)) t(x)
    ), wau as (
      select day, cast(count(*) as bigint) as wau from contrib group by day
    )
    select d.day, d.dau, w.wau,
           floor(d.dau * 1.0 / w.wau * 1000000.0 + 0.5) / 1000000.0
             as stickiness
    from dau d join wau w using (day)
    """,
    doc="per-day DAU/WAU engagement stickiness: the raw event stream "
    "compacts FIRST to the distinct (day, user) activity relation — "
    "one hash shuffle; everything after is activity-sized, not event-"
    "sized — then each activity row fans out to the 7 trailing windows "
    "it falls in (bounded sequence/explode), a second distinct, one "
    "count per day. No windows, no self-join, no per-day event "
    "rescans; ratio floor-scaled 1e6 with integer numerators so both "
    "engines compute the identical double",
)
def e15(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import dau_wau_stickiness

    return dau_wau_stickiness(load(spark, sf, "events"))


@register(
    "d45_tokenizer_fertility",
    lambda: f"""
    with counts(doc_id, n_bpe) as (values {", ".join(f"({d}, {n})" for d, n in pyoracle.bpe_token_counts_model(pyoracle.oracle_sf_dir(), 8))}),
    per as (
      select d.source,
             cast(c.n_bpe as bigint) as n_bpe,
             cast(len(list_filter(regexp_split_to_array(
               lower(coalesce(d.text, '')), '\\s+'), x -> x <> ''))
               as bigint) as n_words,
             cast(octet_length(encode(coalesce(d.text, ''))) as bigint) as n_bytes
      from documents d join counts c using (doc_id)
    )
    select source,
           cast(count(*) as bigint) as n_docs,
           cast(sum(n_bpe) as bigint) as n_tokens,
           cast(sum(n_words) as bigint) as n_words,
           cast(sum(n_bytes) as bigint) as n_bytes,
           case when sum(n_words) > 0 then
             floor(sum(n_bpe) * 1.0 / sum(n_words) * 1000000.0 + 0.5)
               / 1000000.0 else 0.0 end as tokens_per_word,
           case when sum(n_bpe) > 0 then
             floor(sum(n_bytes) * 1.0 / sum(n_bpe) * 1000000.0 + 0.5)
               / 1000000.0 else 0.0 end as bytes_per_token
    from per group by source
    """,
    doc="per-source tokenizer FERTILITY — the standard tokenizer-eval "
    "metric (tokens per word, bytes per token) that decides whether a "
    "fitted vocabulary serves every corpus slice or over-fragments "
    "some source/language: d40's counts-only indexed tokenization "
    "grouped by source with integer sums and floor-scaled ratios "
    "(identical double formula both engines). In production the "
    "per-doc counts come free from the c22-maintained store, so the "
    "fertility report is one source-keyed agg over maintained state — "
    "no retokenization. Oracle joins the independent counts model to "
    "the documents table and aggregates identically",
)
def d45(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
        release_tokenizer_vocab,
    )

    docs = load(spark, sf, "documents")
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    counted = bpe_token_counts_indexed(docs, vocab, mt)
    n_words = F.size(
        F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
            lambda w: w != "",
        )
    ).cast("long")
    n_bytes = F.octet_length(F.coalesce(F.col("text"), F.lit(""))).cast("long")
    per = counted.select(
        "source",
        F.col("n_bpe_tokens").alias("__nb"),
        n_words.alias("__nw"),
        n_bytes.alias("__nby"),
    )
    r6 = lambda num, den: F.when(
        den > 0, F.floor(num / den * 1000000.0 + 0.5) / 1000000.0
    ).otherwise(F.lit(0.0))
    out = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__nb").cast("long").alias("n_tokens"),
        F.sum("__nw").cast("long").alias("n_words"),
        F.sum("__nby").cast("long").alias("n_bytes"),
    ).select(
        "source",
        "n_docs",
        "n_tokens",
        "n_words",
        "n_bytes",
        r6(
            F.col("n_tokens").cast("double"), F.col("n_words").cast("double")
        ).alias("tokens_per_word"),
        r6(
            F.col("n_bytes").cast("double"), F.col("n_tokens").cast("double")
        ).alias("bytes_per_token"),
    )
    # materialize, then drop the pinned vocab checkpoint (see d37)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


@register(
    "d46_stratified_weighted_reservoir",
    f"""
    with q as (
      select doc_id, source, {_QUALITY_EXPR} as quality_score
      from ({_STATS_SQL})
    ), keyed as (
      select doc_id, source, quality_score,
             floor(power(
                     ((('0x' || substr(md5('ares' || cast(doc_id as varchar)),
                                       1, 8))::ubigint)::double + 1.0)
                       / 4294967296.0,
                     1.0 / greatest(quality_score, 1e-12)
                   ) * 1e12 + 0.5) / 1e12 as ares_key
      from q
    ), r as (
      select source, doc_id, quality_score,
             row_number() over (partition by source
                                order by ares_key desc, doc_id) as rank
      from keyed
    )
    select source, doc_id, quality_score, cast(rank as int) as rank
    from r where rank <= 5
    """,
    doc="STRATIFIED A-Res weighted reservoir (exact 5 per source, "
    "inclusion ~ quality within the stratum) — completes the sampling "
    "family between the global weighted reservoir (d04u) and the "
    "per-group-uniform stratified sample (d08). Per-group top-k is the "
    "TWO-PHASE aggregation (local top-k per (group, partition) "
    "completes map-side, per-group merge after) — never a Window "
    "row_number, whose plan funnels every row of a stratum through one "
    "reducer when a source dominates the corpus. Same deterministic "
    "md5-uniform key and IEEE floor-rounding as d04u; oracle replays "
    "the key in SQL and ranks with the window DuckDB-side",
)
def d46(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import (
        quality_score,
        weighted_reservoir_sample_grouped,
    )

    d = quality_score(load(spark, sf, "documents"), "text")
    return weighted_reservoir_sample_grouped(
        d, "quality_score", 5, group_col="source", salt="ares"
    ).select("source", "doc_id", "quality_score", "rank")


from basis_devkit_spark.queries import _REGISTRY as _REG


@register(
    "c25_stream_reservoir_maintenance",
    _REG["d46_stratified_weighted_reservoir"].oracle,
    doc="streaming maintenance of the stratified A-Res reservoir — the "
    "sample is a textbook MERGEABLE summary (per-group top-k by a "
    "deterministic per-row key: union two reservoirs, keep the top-k — "
    "associative, commutative, order-invariant), so documents arriving "
    "as micro-batches maintain exactly the one-shot d46 sample: per "
    "batch, score the batch, union the stored per-group candidates, "
    "re-take top-5 per source, upsert exactly-once keyed by "
    "(source, rank) — a BOUNDED state relation (k rows per group) no "
    "matter how much history streamed past. Byte-equal to the one-shot "
    "d46 oracle",
)
def c25(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import (
        quality_score,
        weighted_reservoir_sample_grouped,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    docs = load(spark, sf, "documents")
    tmp, drop, raw_schema = _stream_drop_dir(
        spark, docs, "bds_c25_",
        [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1],
    )

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        cand = quality_score(batch, "text").select(
            "source", "doc_id", "quality_score"
        )
        if existing is not None:
            cand = cand.unionByName(
                existing.select("source", "doc_id", "quality_score")
            )
        # the merge IS the operator: per-group top-k by the same
        # deterministic key over the union of candidates
        return weighted_reservoir_sample_grouped(
            cand, "quality_score", 5, group_col="source", salt="ares"
        )

    store = TableStore(tmp, "reservoir", spark)
    store.configure(unique_on=["source", "rank"])
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read().select("source", "doc_id", "quality_score", "rank")


@register(
    "d47_script_profile",
    """
    select doc_id,
           cast(len(coalesce(text, '')) as bigint) as n_chars,
           """ + ",\n           ".join(
        f"""case when len(coalesce(text, '')) > 0 then
             floor((len(coalesce(text, '')) -
                    len(regexp_replace(coalesce(text, ''), '{dpat}', '', 'g')))
                   * 1.0 / len(coalesce(text, '')) * 1000000.0 + 0.5)
               / 1000000.0 else 0.0 end as frac_{name}"""
        for name, _, dpat in __import__(
            "basis_devkit_spark.operators.text", fromlist=["SCRIPT_CLASSES"]
        ).SCRIPT_CLASSES
    ) + """
    from documents
    """,
    doc="per-doc Unicode-script character profile (Latin / Cyrillic / "
    "Han / Arabic / digit / whitespace fractions) — the cheap language-"
    "ID prefilter and mojibake detector run before the trained "
    "classifier; pure regexp_count projections that fuse into the "
    "scan. Java regex spells a script \\\\p{IsX}, RE2 \\\\p{X} — same "
    "Unicode property, counts probed equal; fractions floor-scaled "
    "1e6 with integer numerators",
)
def d47(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import script_profile

    return script_profile(load(spark, sf, "documents"))


# -------------------- d48 family: per-domain curation (RefinedWeb-style)
# The documents fixture has no URL column; derive a deterministic
# synthetic URL per doc from (source, doc_id) in-query (the fixture
# convention) — identical literal expression in Spark and the oracle.
# doc_id % 11 == 0 rows get junk (unparseable) URLs to exercise the
# NULL-domain passthrough path; the % 5 TLD wheel exercises the default
# rule (.com/.org), a ccTLD registry suffix (.co.uk), a private-section
# shared host (.github.io), and an unknown TLD.
from basis_devkit_spark.operators.domains import (  # noqa: E402
    load_psl_snapshot as _load_psl,
)


def _psl_domain_sql_cte() -> str:
    """DuckDB CTE fragment replaying operators/domains.
    registrable_domain's array-based longest-match over the SAME
    bundled full-PSL snapshot the operator defaults to — candidate
    tails probed against one combined list per rule kind (a matched
    string's own label count IS its depth), exceptions prevail,
    wildcards require the extra label, default rule floors the suffix
    at the TLD. Generated from the rule file, so oracle and operator
    stay in lockstep by construction. Expects a CTE ``lbl(host, labs,
    n, ...)``; emits ``m`` (match depths) and ``dom`` (adds
    ``domain``)."""
    literals: list[str] = []
    wild_bases: list[str] = []
    exceptions: list[str] = []
    max_d = 1
    for r in _load_psl():
        r = r.strip().lower()
        if r.startswith("!"):
            exceptions.append(r[1:])
            max_d = max(max_d, r[1:].count(".") + 1)
        elif r.startswith("*."):
            wild_bases.append(r[2:])
            max_d = max(max_d, r[2:].count(".") + 2)
        elif "." in r:
            literals.append(r)
            max_d = max(max_d, r.count(".") + 1)

    def inset(vals: list[str]) -> str:
        return ", ".join(f"'{v}'" for v in sorted(vals))

    k = max_d + 1
    tail_i = "array_to_string(labs[n - i + 1:n], '.')"
    rng = f"range(1, least(n, {k}) + 1)"
    exc = (
        f"list_max(list_transform({rng}, i -> case when {tail_i} in "
        f"({inset(exceptions)}) then i else 0 end))"
        if exceptions
        else "0"
    )
    lit = (
        f"list_max(list_transform({rng}, i -> case when {tail_i} in "
        f"({inset(literals)}) then i else 0 end))"
        if literals
        else "0"
    )
    wild = (
        f"list_max(list_transform({rng}, i -> case when i < n and "
        f"{tail_i} in ({inset(wild_bases)}) then i + 1 else 0 end))"
        if wild_bases
        else "0"
    )
    return f"""m as (
      select *,
        {exc} as exc_d,
        greatest({lit}, {wild}, 1) as suf_d
      from lbl
    ), dom as (
      select *,
        case when host is null then null
             when exc_d > 0
               then array_to_string(labs[n - exc_d + 1:n], '.')
             when n > suf_d
               then array_to_string(labs[n - suf_d:n], '.')
             else host end as domain
      from m
    )"""


_SYNTH_URL_SQL = """
      case when doc_id % 11 = 0 then 'junk'
           else 'https://w' || cast(doc_id % 3 as varchar) || '.' ||
                lower(source) ||
                (case (doc_id % 7) when 0 then '.com' when 1 then '.co.uk'
                      when 2 then '.org' when 3 then '.github.io'
                      when 4 then '.foo.ck' when 5 then '.www.ck'
                      else '.unknowntld' end) ||
                '/doc/' || cast(doc_id as varchar) end
"""

# continues a WITH chain that has defined `u(doc_id, ..., url)`;
# replays operators/domains.registrable_domain: host via the same
# RE2/Java regexp, exception rules first, longest-match literal OR
# wildcard suffix, PSL default rule
_DOMAIN_SQL = f"""
    h as (
      select *, nullif(regexp_extract(url, '^https://([^/]+)', 1), '') as host
      from u
    ), lbl as (
      select *, string_split(host, '.') as labs,
             len(string_split(host, '.')) as n
      from h
    ), {_psl_domain_sql_cte()}
"""


def _synth_url_col():
    return F.when(F.col("doc_id") % 11 == 0, F.lit("junk")).otherwise(
        F.concat(
            F.lit("https://w"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("."),
            F.lower("source"),
            F.element_at(
                F.array(
                    F.lit(".com"), F.lit(".co.uk"), F.lit(".org"),
                    F.lit(".github.io"), F.lit(".foo.ck"),
                    F.lit(".www.ck"), F.lit(".unknowntld"),
                ),
                (F.col("doc_id") % 7 + 1).cast("int"),
            ),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
        )
    )


@register(
    "d48_registrable_domain",
    f"""
    with u as (
      select doc_id, {_SYNTH_URL_SQL} as url from documents
    ), {_DOMAIN_SQL}
    select doc_id, host, domain from dom
    """,
    doc="registrable domain (eTLD+1) extraction — the unit under every "
    "RefinedWeb-style per-domain cap/dedup: host via Spark's JVM URL "
    "parser (try_parse_url; NULL on junk), then the Public Suffix List "
    "algorithm as a PURE PROJECTION — multi-label suffixes matched "
    "longest-first against a literal isin set (codegen-compact InSet; "
    "production loads the full public-domain PSL into suffixes=), "
    "unknown TLDs under the PSL default rule. Zero joins, zero "
    "shuffles, fuses into the scan. Oracle replays host extraction "
    "with an RE2-identical regexp and the same longest-match tables",
)
def d48(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.domains import registrable_domain

    docs = load(spark, sf, "documents").withColumn("url", _synth_url_col())
    return registrable_domain(docs, "url", host_col="host").select(
        "doc_id", "host", "domain"
    )


@register(
    "d48b_domain_cap",
    f"""
    with q as (
      select doc_id, source, {_QUALITY_EXPR} as quality_score
      from ({_STATS_SQL})
    ), u as (
      select doc_id, quality_score, {_SYNTH_URL_SQL} as url from q
    ), {_DOMAIN_SQL}, keyed as (
      select doc_id, domain, quality_score,
             floor(power(
                     ((('0x' || substr(md5('domcap' ||
                                           cast(doc_id as varchar)), 1, 8))
                       ::ubigint)::double + 1.0) / 4294967296.0,
                     1.0 / greatest(quality_score, 1e-12)
                   ) * 1e12 + 0.5) / 1e12 as k
      from dom
    ), r as (
      select doc_id, domain,
             row_number() over (partition by domain
                                order by k desc, doc_id) as rnk
      from keyed where domain is not null
    )
    select doc_id, domain, cast(rnk as int) as domain_rank
    from r where rnk <= 3
    union all
    select doc_id, domain, cast(null as int) as domain_rank
    from dom where domain is null
    """,
    doc="per-domain cap (domain_cap, max 3 per registrable domain, "
    "keep_by=quality_score) — the RefinedWeb mega-host guard run "
    "BEFORE content dedup: keeps the best-quality k per domain via the "
    "quality-weighted A-Res reservoir (exact count, deterministic, "
    "inclusion ~ quality within the domain); NULL-domain rows pass "
    "through uncapped with NULL rank for separate handling. The hot "
    "domain IS the skewed key, so the per-domain top-k runs on the "
    "BOUNDED two-phase merge tree (buffers <= merge_fanin x k at any "
    "partition count, no Window funneling the mega-domain through one "
    "reducer). Oracle replays domain + A-Res key and ranks with a "
    "window DuckDB-side",
)
def d48b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.domains import domain_cap
    from basis_devkit_spark.operators.text import quality_score

    d = quality_score(load(spark, sf, "documents"), "text").withColumn(
        "url", _synth_url_col()
    )
    return domain_cap(d, "url", max_per_domain=3, keep_by="quality_score").select(
        "doc_id", "domain", "domain_rank"
    )


def _minhash_quality_keeper_sql() -> str:
    """Oracle for d02k: the independent XXH64 pair model emits the
    banded-LSH candidate pairs as literal VALUES; DuckDB computes the
    d04c quality score and applies the keeper rule itself — loser =
    the doc later in (-quality, id) row order (exactly the Spark
    struct-min), so the keeper SEMANTICS are verified in SQL, not just
    the final id set."""
    pairs = pyoracle.minhash_candidate_pairs(
        pyoracle.oracle_sf_dir(), threshold=0.7
    )
    if not pairs:
        return "select doc_id, lang, source from documents"
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    return f"""
    with q as (
      select doc_id, {_QUALITY_EXPR} as qs from ({_STATS_SQL})
    ), p(id_a, id_b) as (select * from (values {vals})),
    losers as (
      select case when (-qa.qs, p.id_a) < (-qb.qs, p.id_b)
                  then p.id_b else p.id_a end as lid
      from p
      join q qa on qa.doc_id = p.id_a
      join q qb on qb.doc_id = p.id_b
    )
    select doc_id, lang, source from documents
    where doc_id not in (select lid from losers)
    """


@register(
    "d02k_minhash_quality_keeper",
    _minhash_quality_keeper_sql,
    doc="quality-aware keep-one near-dedup (minhash_dedup keep_by="
    "quality_score): production dedup keeps the BEST copy of a near-"
    "dup pair, not the min-id copy — each banded-LSH candidate pair "
    "drops the doc later in (-quality, id) order (deterministic; "
    "keep_by on -id reproduces the d02b output byte-for-byte, "
    "equivalence-tested). Same one-hop no-window shape as d02b plus "
    "two equi-joins attaching scores to the bounded pair relation; "
    "the oracle replays the keeper rule in SQL over the literal pair "
    "table and the proven d04c quality expression",
)
def d02k(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import minhash_dedup
    from basis_devkit_spark.operators.text import quality_score

    d = quality_score(load(spark, sf, "documents"), "text")
    return minhash_dedup(
        d, "doc_id", "text", num_hashes=64, bands=16,
        jaccard_threshold=0.7, keep_by="quality_score",
    ).select("doc_id", "lang", "source")


@register(
    "c26_stream_domain_cap_maintenance",
    f"""
    with q as (
      select doc_id, source, {_QUALITY_EXPR} as quality_score
      from ({_STATS_SQL})
    ), u as (
      select doc_id, quality_score, {_SYNTH_URL_SQL} as url from q
    ), {_DOMAIN_SQL}, keyed as (
      select doc_id, domain, quality_score,
             floor(power(
                     ((('0x' || substr(md5('domcap' ||
                                           cast(doc_id as varchar)), 1, 8))
                       ::ubigint)::double + 1.0) / 4294967296.0,
                     1.0 / greatest(quality_score, 1e-12)
                   ) * 1e12 + 0.5) / 1e12 as k
      from dom where domain is not null
    )
    select doc_id, domain, quality_score, cast(rnk as int) as domain_rank
    from (
      select doc_id, domain, quality_score,
             row_number() over (partition by domain
                                order by k desc, doc_id) as rnk
      from keyed
    ) where rnk <= 3
    """,
    doc="streaming maintenance of the per-domain cap — like the "
    "c25 reservoir, the capped set is a MERGEABLE summary (per-domain "
    "top-k by the deterministic A-Res key: union the stored winners "
    "with the new batch, re-take top-k — associative, order-"
    "invariant), so crawl batches arriving as micro-batches maintain "
    "exactly the one-shot d48b cap with k-rows-per-domain bounded "
    "state. NULL-domain rows are a stateless passthrough (d48b emits "
    "them uncapped), so the maintained relation is the capped side "
    "only; byte-equal to the d48b oracle's ranked branch",
)
def c26(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.domains import registrable_domain
    from basis_devkit_spark.operators.text import (
        quality_score,
        weighted_reservoir_sample_grouped,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    docs = load(spark, sf, "documents")
    tmp, drop, raw_schema = _stream_drop_dir(
        spark, docs, "bds_c26_",
        [F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1],
    )

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        cand = registrable_domain(
            quality_score(batch, "text").withColumn("url", _synth_url_col()),
            "url",
        ).filter(F.col("domain").isNotNull()).select(
            "domain", "doc_id", "quality_score"
        )
        if existing is not None:
            cand = cand.unionByName(
                existing.select("domain", "doc_id", "quality_score")
            )
        win = weighted_reservoir_sample_grouped(
            cand, "quality_score", 3, group_col="domain",
            id_col="doc_id", salt="domcap",
        )
        return win.select(
            "domain", "doc_id", "quality_score",
            F.col("rank").alias("domain_rank"),
        )

    store = TableStore(tmp, "domain_cap", spark)
    store.configure(unique_on=["domain", "domain_rank"])
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read().select(
        "doc_id", "domain", "quality_score", "domain_rank"
    )


# URL variants for d48c: homepage / deep page with extension /
# parameterized doc path / bare host — plus the %11 junk rows
_SYNTH_URL2_SQL = """
      case when doc_id % 11 = 0 then 'junk'
           else 'https://w' || cast(doc_id % 3 as varchar) || '.' ||
                lower(source) || '.com' ||
                (case (doc_id % 4)
                      when 0 then '/'
                      when 1 then '/a/b/page-' || cast(doc_id as varchar)
                                  || '.html'
                      when 2 then '/doc/' || cast(doc_id as varchar) ||
                                  '?q=' || cast(doc_id % 7 as varchar) ||
                                  '&lang=en'
                      else '' end) end
"""


def _synth_url2_col():
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("/"))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.lit("/a/b/page-"),
                F.col("doc_id").cast("string"),
                F.lit(".html"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.lit("/doc/"),
                F.col("doc_id").cast("string"),
                F.lit("?q="),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("&lang=en"),
            ),
        )
        .otherwise(F.lit(""))
    )
    return F.when(F.col("doc_id") % 11 == 0, F.lit("junk")).otherwise(
        F.concat(
            F.lit("https://w"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("."),
            F.lower("source"),
            F.lit(".com"),
            tail,
        )
    )


@register(
    "d48c_url_features",
    f"""
    with u as (
      select doc_id, {_SYNTH_URL2_SQL} as url from documents
    ), h as (
      select doc_id, url,
             nullif(regexp_extract(url, '^https://([^/]+)', 1), '') as host,
             regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) as path,
             nullif(regexp_extract(url, '\\?([^#]*)', 1), '') as query
      from u
    ), s as (
      select *, list_filter(string_split(path, '/'), x -> x <> '') as segs
      from h
    )
    select doc_id, host,
      case when host is null then null
           else cast(len(segs) as int) end as path_depth,
      case when host is null then null
           when query is null then 0
           else cast(len(string_split(query, '&')) as int)
        end as n_query_params,
      case when host is null then null
           else nullif(lower(regexp_extract(
                  coalesce(segs[len(segs)], ''),
                  '\\.([A-Za-z0-9]{{1,5}})$', 1)), '') end as file_ext,
      case when host is null then null
           else cast(path in ('', '/') and query is null as int)
        end as is_homepage,
      case when host is null then null
           else cast(len(string_split(host, '.')) as int)
        end as n_host_labels,
      case when host is null then null
           when len(host) > 0 then
             floor((len(host) -
                    len(regexp_replace(host, '[0-9]', '', 'g')))
                   * 1.0 / len(host) * 1000000.0 + 0.5) / 1000000.0
           else 0.0 end as host_digit_fraction,
      case when host is null then null
           else cast(len(url) as int) end as url_chars
    from s
    """,
    doc="URL-level filter signals (url_features) — the RefinedWeb-"
    "style URL scoring pass run beside the domain cap: path depth, "
    "query-parameter count, file extension, homepage flag, host label "
    "count, host digit fraction, URL length — crawl curation filters "
    "on URL SHAPE before reading a byte of content. Pure projections "
    "over the JVM URL parser, NULL-gated on the host so junk URLs "
    "yield NULL across the board in both engines; the oracle replays "
    "the parse with RE2-identical regexps over the same synthetic "
    "homepage/deep-page/parameterized/bare-host variants",
)
def d48c(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.domains import url_features

    docs = load(spark, sf, "documents").withColumn("url", _synth_url2_col())
    return url_features(docs, "url").select(
        "doc_id", "host", "path_depth", "n_query_params", "file_ext",
        "is_homepage", "n_host_labels", "host_digit_fraction", "url_chars",
    )


@register(
    "e16_touch_attribution",
    """
    with conv as (
      select event_id as conversion_id, user_id, ts as conv_ts,
             value as conv_value
      from events where event_type = 'purchase'
    ), t as (
      select user_id, ts, event_id, event_type
      from events where event_type in ('view', 'click')
    ), j as (
      select c.*, t.ts as tts, t.event_id as tid, t.event_type as ch
      from conv c
      left join t on t.user_id = c.user_id
         and t.ts <= c.conv_ts
         and t.ts > c.conv_ts - interval 24 hours
    ), r as (
      select conversion_id, ch,
             row_number() over (partition by conversion_id
                                order by tts, tid) as rf,
             row_number() over (partition by conversion_id
                                order by tts desc, tid desc) as rl,
             count(*) over (partition by conversion_id) as nt
      from j where tid is not null
    ), a as (
      select conversion_id,
             max(case when rf = 1 then ch end) as first_channel,
             max(case when rl = 1 then ch end) as last_channel,
             cast(max(nt) as bigint) as n_touches
      from r group by 1
    )
    select c.conversion_id, c.user_id, c.conv_ts, c.conv_value,
           a.first_channel, a.last_channel,
           coalesce(a.n_touches, 0) as n_touches,
           case when a.n_touches > 0 then
             floor(c.conv_value / a.n_touches * 1000000.0 + 0.5) / 1000000.0
           end as linear_credit
    from conv c left join a using (conversion_id)
    """,
    doc="first/last/linear touch attribution (touch_attribution): for "
    "every purchase, the first- and last-touch channel among the "
    "user's view/click events in the trailing 24 h, the touch count, "
    "and the per-touch linear credit — one per-user equi-join with a "
    "range residual (fan-out bounded by one user's touches in the "
    "window; no global window, no cross join) and first/last as "
    "struct-min/max with unique-id tie-breaks inside the same hash "
    "aggregate. Zero-touch conversions keep NULL channels / 0 / NULL. "
    "Oracle replays the join and ranks with min_by/max_by on the same "
    "(ts, id) key; credit floor-rounded 1e6 both sides",
)
def e16(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import touch_attribution

    return touch_attribution(
        load(spark, sf, "events"),
        touch_types=["view", "click"],
        conversion_type="purchase",
        lookback_hours=24,
    )


def _ftyp_hex(major: str, minor: int, brands: list[str]) -> str:
    payload = (
        b"ftyp"
        + major.encode("ascii")
        + minor.to_bytes(4, "big")
        + b"".join(b.encode("ascii") for b in brands)
    )
    return ((4 + len(payload)).to_bytes(4, "big") + payload).hex()


# (hex, major, minor, n_brands, brands_csv); the None row is a FLAC
# magic that must be rejected; the last row carries MORE compatible
# brands than max_brands=4 lists (csv capped, count exact)
_FTYP_HEADERS = [
    (_ftyp_hex("isom", 512, ["isom", "iso2", "avc1", "mp41"]),
     "isom", 512, 4, "isom,iso2,avc1,mp41"),
    (_ftyp_hex("mp42", 0, ["mp42", "isom"]), "mp42", 0, 2, "mp42,isom"),
    (_ftyp_hex("M4A ", 0, ["M4A ", "mp42", "isom"]),
     "M4A ", 0, 3, "M4A ,mp42,isom"),
    (_ftyp_hex("avif", 0, ["avif", "mif1", "miaf"]),
     "avif", 0, 3, "avif,mif1,miaf"),
    (_ftyp_hex("heic", 7, []), "heic", 7, 0, ""),
    ("664c6143" + "00" * 12, None, None, None, None),
    (_ftyp_hex("qt  ", 0, ["qt  ", "isom", "iso2", "avc1", "mp41", "dash"]),
     "qt  ", 0, 6, "qt  ,isom,iso2,avc1"),
]


@register(
    "d05f_mp4_ftyp_parse",
    f"""
    with blobs as (
      select doc_id, doc_id % 7 as variant from documents
    ), truth as (
      select * from (values
        {", ".join(
            "({i}, {ok}, {mj}, {mn}, {nb}, {csv})".format(
                i=i,
                ok="true" if mj is not None else "false",
                mj="'" + mj + "'" if mj is not None else "cast(null as varchar)",
                mn=mn if mn is not None else "cast(null as bigint)",
                nb=nb if nb is not None else "cast(null as int)",
                csv="'" + csv + "'" if csv is not None else "cast(null as varchar)",
            )
            for i, (_, mj, mn, nb, csv) in enumerate(_FTYP_HEADERS)
        )}
      ) as t(variant, is_isobmff, major_brand, minor_version,
             n_compatible_brands, brands_csv)
    )
    select b.doc_id, t.is_isobmff, t.major_brand,
           cast(t.minor_version as bigint) as minor_version,
           cast(t.n_compatible_brands as int) as n_compatible_brands,
           t.brands_csv
    from blobs b join truth t on b.variant = t.variant
    """,
    doc="decode-free ISO-BMFF container sniff (ISO/IEC 14496-12 ftyp "
    "box): major brand, minor version, compatible-brand count and the "
    "first-4 brand list parsed as pure hex-slice + conv + bounded "
    "transform expressions — no UDF, no codec, O(1) bytes/row; the "
    "variants exercise MP4/M4A/AVIF/HEIC/QuickTime brands, a zero-"
    "brand box, a brand list longer than the listing cap, and a FLAC "
    "magic that must be rejected. Oracle derives ground truth from "
    "the construction table, independently checking the byte surgery",
)
def d05f(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import mp4_ftyp_fields

    d = load(spark, sf, "documents").select("doc_id", "text")
    hdr = None
    for i, (hx, *_rest) in enumerate(_FTYP_HEADERS):
        cond = F.col("doc_id") % 7 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn(
        "content",
        F.concat(hdr, F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")),
    )
    s = mp4_ftyp_fields("content")
    return blobs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


@register(
    "d49_graph_triangles",
    """
    with l as (
      select l_orderkey as o, l_partkey as p from lineitem
    ), e0 as (
      select distinct least(a.p, b.p) as a, greatest(a.p, b.p) as b
      from l a join l b on a.o = b.o and a.p < b.p
    ), t as (
      select e1.a as x, e1.b as y, e2.b as z
      from e0 e1
      join e0 e2 on e1.a = e2.a and e1.b < e2.b
      join e0 e3 on e3.a = e1.b and e3.b = e2.b
    ), pn as (
      select node, cast(count(*) as bigint) as n_triangles
      from (
        select x as node from t
        union all select y from t
        union all select z from t
      ) group by node
    ), nodes as (
      select a as node from e0 union select b from e0
    )
    select n.node, coalesce(pn.n_triangles, 0) as n_triangles
    from nodes n left join pn on pn.node = n.node
    """,
    doc="per-node triangle counts (triangle_count) over the part "
    "co-purchase graph (parts sharing an order, lineitem self-join "
    "with per-order-bounded fan-out) — the clustering-coefficient "
    "numerator, and in dedup QA the near-clique test separating true "
    "duplicate groups from chain-like LSH threshold artifacts. Spark "
    "runs degree-ORIENTED wedge counting (Suri & Vassilvitskii WWW'11: "
    "orient each edge low->high in (degree, id) order, so every "
    "triangle counts once and oriented out-degree is O(sqrt m) even "
    "at hub nodes — no curse-of-the-last-reducer); the oracle counts "
    "the same triangles with a direct canonical-order 3-way join",
)
def d49(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import release_signature_caches
    from basis_devkit_spark.operators.graphrank import triangle_count

    l = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
    )
    out = triangle_count(edges, "id_a", "id_b")
    # materialize the (node-sized) result, then drop the operator's
    # session-scoped edge caches instead of pinning them per query run
    ck = out.localCheckpoint(eager=True)
    release_signature_caches(out)
    return ck


@register(
    "d50_winsorize",
    """
    with b as (
      select l_returnflag,
             round(quantile_cont(l_extendedprice, 0.01), 4) as clip_lo,
             round(quantile_cont(l_extendedprice, 0.99), 4) as clip_hi
      from lineitem group by l_returnflag
    )
    select l.l_orderkey, l.l_linenumber, l.l_returnflag,
           l.l_extendedprice, b.clip_lo, b.clip_hi,
           least(greatest(l.l_extendedprice, b.clip_lo), b.clip_hi)
             as price_clipped
    from lineitem l
    join b on l.l_returnflag is not distinct from b.l_returnflag
    """,
    doc="per-group winsorization (winsorize, p01/p99 by return flag): "
    "the outlier-taming clamp run before averaging/scaling — one "
    "exact-percentile hash agg builds the group-count-bounded bounds "
    "relation, broadcast back onto the scan, then a pure projection. "
    "Bounds are 4dp-rounded BEFORE clamping so the clip decision "
    "compares identical doubles in both engines (the b24 percentile-"
    "parity contract); the 100 TB single-pass path swaps in the d32 "
    "sketch quantiles",
)
def d50(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import winsorize

    li = load(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    return winsorize(
        li, "l_extendedprice", 0.01, 0.99, group_col="l_returnflag",
        out_col="price_clipped",
    ).select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice",
        "clip_lo", "clip_hi", "price_clipped",
    )


@register(
    "d49b_clustering_coefficient",
    """
    with l as (
      select l_orderkey as o, l_partkey as p from lineitem
    ), e0 as (
      select distinct least(a.p, b.p) as a, greatest(a.p, b.p) as b
      from l a join l b on a.o = b.o and a.p < b.p
    ), deg as (
      select node, cast(count(*) as bigint) as degree
      from (select a as node from e0 union all select b from e0)
      group by node
    ), t as (
      select e1.a as x, e1.b as y, e2.b as z
      from e0 e1
      join e0 e2 on e1.a = e2.a and e1.b < e2.b
      join e0 e3 on e3.a = e1.b and e3.b = e2.b
    ), pn as (
      select node, cast(count(*) as bigint) as n_triangles
      from (
        select x as node from t
        union all select y from t
        union all select z from t
      ) group by node
    )
    select d.node, d.degree, coalesce(pn.n_triangles, 0) as n_triangles,
           case when d.degree > 1 then
             floor(2.0 * coalesce(pn.n_triangles, 0)
                   / (d.degree * (d.degree - 1)) * 1000000.0 + 0.5)
               / 1000000.0
           else 0.0 end as clustering_coeff
    from deg d left join pn on pn.node = d.node
    """,
    doc="local clustering coefficient (clustering_coefficient, "
    "2T/(d(d-1))) over the part co-purchase graph — the normalized "
    "companion to d49: 1.0 inside a clique, ->0 on chains/stars; the "
    "dedup-QA score that says whether a near-dup 'cluster' is a real "
    "duplicate group or an LSH threshold artifact. Same degree-"
    "oriented triangle core plus one degree agg and a node join; "
    "coefficients floor-scaled 1e6 with integer numerators",
)
def d49b(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import release_signature_caches
    from basis_devkit_spark.operators.graphrank import clustering_coefficient

    l = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
    )
    out = clustering_coefficient(edges, "id_a", "id_b")
    # materialize, then drop the operator's edge caches (see d49)
    ck = out.localCheckpoint(eager=True)
    release_signature_caches(out)
    return ck


def _calibration_bins_sql() -> str:
    """d51 oracle: the proven d24 literal score table (independent
    Python XXH64 + float64-GD model) joined to the weak labels, then
    the bin/aggregate arithmetic replayed in SQL."""
    inner = pyoracle.hashed_logreg_sql()
    return f"""
    with s as ({inner}), lab as (
      select doc_id,
             cast(len(regexp_split_to_array(lower(trim(text)), '\\s+')) >= 60
                  as int) as label
      from documents
    ), j as (
      select least(cast(floor(s.quality_prob * 10) as int), 9) as bin,
             s.quality_prob, lab.label
      from s join lab using (doc_id)
    )
    select bin, cast(count(*) as bigint) as n,
           cast(sum(label) as bigint) as n_pos,
           floor(cast(sum(cast(quality_prob as decimal(27,6))) as double)
                 / count(*) * 1000000.0 + 0.5) / 1000000.0 as mean_score,
           floor(sum(label) * 1.0 / count(*) * 1000000.0 + 0.5) / 1000000.0
             as pos_rate
    from j group by bin
    """


@register(
    "d51_calibration_bins",
    _calibration_bins_sql,
    doc="classifier calibration report (calibration_bins over the d24 "
    "deterministic quality filter): decile-binned predicted scores vs "
    "observed positive rate — the reliability table that says whether "
    "the curation threshold means what it claims. One hash aggregate; "
    "the mean goes through a DECIMAL(27,6) sum of the 6dp scores "
    "before one double division, mean/rate floor-scaled 1e6, scores "
    "exactly 1.0 land in the top bin. Oracle composes the proven d24 "
    "literal score table with the same bin arithmetic in SQL",
)
def d51(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.quality_model import (
        calibration_bins,
        fit_hashed_logreg,
        score_hashed_logreg,
    )

    d = load(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    labeled = d.withColumn("label", (F.size(toks) >= 60).cast("int"))
    sample = (
        labeled.orderBy("doc_id").limit(200).select("text", "label").collect()
    )
    wq, bias = fit_hashed_logreg([(r["text"], r["label"]) for r in sample])
    scored = score_hashed_logreg(d, wq, bias)
    j = scored.join(labeled.select("doc_id", "label"), "doc_id")
    return calibration_bins(j, "quality_prob", "label", 10)


@register(
    "c32_stream_calibration_maintenance",
    _calibration_bins_sql,
    doc="streaming calibration-bin maintenance: the scored corpus "
    "arrives as TWO micro-batches; each batch folds its per-bin "
    "partial state (calibration_bin_state — integer counts + an exact "
    "DECIMAL(27,6) score sum, perfectly mergeable) into a persisted "
    "bin store via the exactly-once merge sink, and the reliability "
    "report read from the maintained state "
    "(calibration_bins_from_state) must equal the one-shot d51 report "
    "BYTE-FOR-BYTE (same oracle). The model is fit ONCE up front (a "
    "calibration monitor watches a FIXED trained filter — the "
    "realistic deployment); per batch the cost is batch-sized scoring "
    "+ one n_bins-bounded agg + an n_bins-keyed upsert",
)
def c32(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.quality_model import (
        calibration_bin_state,
        calibration_bins_from_state,
        fit_hashed_logreg,
        score_hashed_logreg,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    d = load(spark, sf, "documents").select("doc_id", "text")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    labeled = d.withColumn("label", (F.size(toks) >= 60).cast("int"))
    sample = (
        labeled.orderBy("doc_id").limit(200).select("text", "label").collect()
    )
    wq, bias = fit_hashed_logreg([(r["text"], r["label"]) for r in sample])

    tmp = _tf.mkdtemp(prefix="bds_c32_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        d.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        btoks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        blab = batch.withColumn("label", (F.size(btoks) >= 60).cast("int"))
        scored = score_hashed_logreg(blab.select("doc_id", "text"), wq, bias)
        j = scored.join(blab.select("doc_id", "label"), "doc_id")
        state = calibration_bin_state(j, "quality_prob", "label", 10)
        if existing is None:
            return state
        prev = existing.select(
            "bin", F.col("n").alias("__pn"),
            F.col("n_pos").alias("__pp"), F.col("ssum").alias("__ps"),
        )
        return state.join(prev, "bin", "full").select(
            "bin",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("__pn"), F.lit(0))
            ).cast("long").alias("n"),
            (
                F.coalesce(F.col("n_pos"), F.lit(0))
                + F.coalesce(F.col("__pp"), F.lit(0))
            ).cast("long").alias("n_pos"),
            (
                F.coalesce(F.col("ssum"), F.lit(0).cast("decimal(27,6)"))
                + F.coalesce(F.col("__ps"), F.lit(0).cast("decimal(27,6)"))
            ).cast("decimal(27,6)").alias("ssum"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "calib_bins", spark)
    store.configure(unique_on="bin")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return calibration_bins_from_state(store.read())


@register(
    "a34_expectations",
    """
    with base as (
      select cast(count(*) as bigint) as n_rows,
        cast(sum(case when o_custkey is null then 1 else 0 end) as bigint)
          as v_nn,
        cast(count(*) - count(distinct o_orderkey) as bigint) as v_uq,
        cast(sum(case when o_orderstatus is null
                       or o_orderstatus not in ('O', 'F', 'P')
                      then 1 else 0 end) as bigint) as v_av,
        cast(sum(case when o_totalprice is null
                       or o_totalprice < 0 or o_totalprice > 100000
                      then 1 else 0 end) as bigint) as v_rg,
        cast(sum(case when o_orderpriority is null
                       or not regexp_matches(o_orderpriority, '^[1-5]-')
                      then 1 else 0 end) as bigint) as v_mt
      from orders
    )
    select 'not_null(o_custkey)' as rule, 'not_null' as kind,
           n_rows, v_nn as n_violations from base
    union all
    select 'unique(o_orderkey)', 'unique', n_rows, v_uq from base
    union all
    select 'accepted_values(o_orderstatus)', 'accepted_values',
           n_rows, v_av from base
    union all
    select 'in_range(o_totalprice)', 'in_range', n_rows, v_rg from base
    union all
    select 'matches(o_orderpriority)', 'matches', n_rows, v_mt from base
    """,
    doc="data-quality expectations report (expectation_report) — the "
    "dbt-tests / DLT-expectations surface: not_null, unique, "
    "accepted_values, in_range, matches rules compiled into ONE "
    "aggregate pass over the relation (unique = rows - distinct keys "
    "in the same aggregate), unpivoted to one (rule, kind, n_rows, "
    "n_violations) row per rule via a bounded stack() projection. The "
    "in_range rule is deliberately violated (12k orders above the cap) "
    "so the report's nonzero path is exercised. NULL violates every "
    "row rule (a rule that silently passes NULLs hides the most "
    "common data bug)",
)
def a34(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.expectations import expectation_report

    return expectation_report(
        load(spark, sf, "orders"),
        [
            ("not_null", "o_custkey"),
            ("unique", "o_orderkey"),
            ("accepted_values", "o_orderstatus", ["O", "F", "P"]),
            ("in_range", "o_totalprice", 0.0, 100000.0),
            ("matches", "o_orderpriority", "^[1-5]-"),
        ],
    )


@register(
    "c27_stream_expectations_monitor",
    """
    with base as (
      select cast(count(*) as bigint) as n_rows,
        cast(sum(case when o_custkey is null then 1 else 0 end) as bigint)
          as v_nn,
        cast(sum(case when o_orderstatus is null
                       or o_orderstatus not in ('O', 'F', 'P')
                      then 1 else 0 end) as bigint) as v_av,
        cast(sum(case when o_totalprice is null
                       or o_totalprice < 0 or o_totalprice > 100000
                      then 1 else 0 end) as bigint) as v_rg,
        cast(sum(case when o_orderpriority is null
                       or not regexp_matches(o_orderpriority, '^[1-5]-')
                      then 1 else 0 end) as bigint) as v_mt
      from orders
    )
    select 'not_null(o_custkey)' as rule, 'not_null' as kind,
           n_rows, v_nn as n_violations from base
    union all
    select 'accepted_values(o_orderstatus)', 'accepted_values',
           n_rows, v_av from base
    union all
    select 'in_range(o_totalprice)', 'in_range', n_rows, v_rg from base
    union all
    select 'matches(o_orderpriority)', 'matches', n_rows, v_mt from base
    """,
    doc="streaming data-quality monitoring — per-micro-batch "
    "expectation_report counts folded into an exactly-once store keyed "
    "by rule: ROW-LEVEL rule counters are ADDITIVE (sum of per-batch "
    "reports == the one-shot a34 report on the concatenation, which is "
    "the oracle here), so state is one row per rule no matter how much "
    "history streamed past. The unique rule is deliberately ABSENT: "
    "rows-minus-distinct-keys does not decompose over batches (cross-"
    "batch duplicates need key-set state) — declaring it here would "
    "silently under-count, so the streaming monitor accepts row rules "
    "only and unique stays a batch/report concern",
)
def c27(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.expectations import expectation_report
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    orders = load(spark, sf, "orders")
    tmp, drop, raw_schema = _stream_drop_dir(
        spark, orders, "bds_c27_",
        [F.col("o_orderkey") % 2 == 0, F.col("o_orderkey") % 2 == 1],
    )
    rules = [
        ("not_null", "o_custkey"),
        ("accepted_values", "o_orderstatus", ["O", "F", "P"]),
        ("in_range", "o_totalprice", 0.0, 100000.0),
        ("matches", "o_orderpriority", "^[1-5]-"),
    ]

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        rep = expectation_report(batch, rules)
        if existing is None:
            return rep
        prev = existing.select(
            "rule",
            F.col("n_rows").alias("__pn"),
            F.col("n_violations").alias("__pv"),
        )
        return (
            rep.join(prev, "rule", "left")
            .select(
                "rule",
                "kind",
                (F.col("n_rows") + F.coalesce("__pn", F.lit(0)))
                .cast("long")
                .alias("n_rows"),
                (F.col("n_violations") + F.coalesce("__pv", F.lit(0)))
                .cast("long")
                .alias("n_violations"),
            )
        )

    store = TableStore(tmp, "dq_monitor", spark)
    store.configure(unique_on="rule")
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return store.read().select("rule", "kind", "n_rows", "n_violations")


@register(
    "d52_oov_rate",
    """
    with fitw as (
      select distinct w as word from (
        select unnest(regexp_split_to_array(lower(coalesce(text, '')),
                                            '\\s+')) as w
        from documents where doc_id % 2 = 0
      ) where w <> ''
    ), ev as (
      select source, w as word from (
        select source,
               unnest(regexp_split_to_array(lower(coalesce(text, '')),
                                            '\\s+')) as w
        from documents where doc_id % 2 = 1
      ) where w <> ''
    ), j as (
      select e.source, e.word, (f.word is null) as oov
      from ev e left join fitw f on f.word = e.word
    ), a as (
      select source,
             cast(count(*) as bigint) as n_tokens,
             cast(sum(case when oov then 1 else 0 end) as bigint)
               as n_oov_tokens,
             cast(count(distinct word) as bigint) as n_types,
             cast(count(distinct case when oov then word end) as bigint)
               as n_oov_types
      from j group by source
    )
    select source, n_tokens, n_oov_tokens, n_types, n_oov_types,
           case when n_tokens > 0 then
             floor(n_oov_tokens * 1.0 / n_tokens * 1000000.0 + 0.5)
               / 1000000.0 else 0.0 end as oov_token_rate,
           case when n_types > 0 then
             floor(n_oov_types * 1.0 / n_types * 1000000.0 + 0.5)
               / 1000000.0 else 0.0 end as oov_type_rate
    from a
    """,
    doc="out-of-vocabulary report (oov_rate): token- and type-level OOV "
    "fractions per source of the ODD-doc slice against a vocabulary "
    "FITTED on the even docs (bpe_learn_merges emit_vocab — its word "
    "set is exactly the fit corpus's distinct lowered whitespace "
    "words, which is what lets the oracle replay membership as pure "
    "set SQL with no tokenizer). The tokenizer-eval companion to the "
    "d45 fertility report: byte-fallback hides coverage gaps in "
    "fertility, OOV surfaces them. Explode -> size-auto-sized vocab "
    "join -> one group aggregate; rates floor-scaled 1e6",
)
def d52(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        oov_rate,
        release_tokenizer_vocab,
    )

    docs = load(spark, sf, "documents")
    fit = docs.filter(F.col("doc_id") % 2 == 0)
    ev = docs.filter(F.col("doc_id") % 2 == 1)
    mt, vocab = bpe_learn_merges(fit, "text", num_merges=8, emit_vocab=True)
    out = oov_rate(ev, vocab, "text", "source")
    # materialize, then drop the pinned vocab checkpoint (see d37)
    out = out.localCheckpoint(eager=True)
    release_tokenizer_vocab(vocab)
    return out


def _ann_recall_sql() -> str:
    """d53 oracle: the EXACT side is the d03-pattern brute-force SQL
    (rank on the 4dp-rounded score, match_id tie-break — the proven
    round-before-rank contract); the APPROX side replays d20 exactly
    (literal candidate table from the independent Python cell+code
    model, float rescore in SQL). Recall is then a set join."""
    cands = pyoracle.ivf_quantized_candidates(pyoracle.oracle_sf_dir())
    vals = ", ".join(f"({q}, {m})" for q, m in cands)
    return f"""
    with qs as (
      select vec_id, embedding from embeddings where vec_id < 30
    ), ex_scored as (
      select q.vec_id as query_id, c.vec_id as match_id,
             round(list_cosine_similarity(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(c.embedding, x -> cast(x as double))), 4)
               as score
      from qs q join embeddings c on q.vec_id != c.vec_id
    ), ex as (
      select query_id, match_id from (
        select query_id, match_id,
               row_number() over (partition by query_id
                                  order by score desc, match_id) as rank
        from ex_scored
      ) where rank <= 5
    ), cand(query_id, match_id) as (select * from (values {vals})),
    ap_scored as (
      select c.query_id::BIGINT as query_id, c.match_id::BIGINT as match_id,
             round(list_cosine_similarity(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(m.embedding, x -> cast(x as double))), 4)
               as score
      from cand c
      join embeddings q on q.vec_id = c.query_id
      join embeddings m on m.vec_id = c.match_id
    ), ap as (
      select query_id, match_id from (
        select query_id, match_id,
               row_number() over (partition by query_id
                                  order by score desc, match_id) as rank
        from ap_scored
      ) where rank <= 5
    ), j as (
      select e.query_id, (a.match_id is not null) as hit
      from ex e left join ap a
        on a.query_id = e.query_id and a.match_id = e.match_id
    )
    select query_id,
           cast(count(*) as bigint) as n_truth,
           cast(sum(case when hit then 1 else 0 end) as bigint) as n_hit,
           floor(sum(case when hit then 1 else 0 end) * 1.0 / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 as recall
    from j group by query_id
    """


@register(
    "d53_ann_recall_report",
    _ann_recall_sql,
    doc="distributed recall@5 evaluation (topk_recall) of the d20 "
    "composed IVF x int8 index against the exact brute-force top-5 "
    "(both sides 4dp round-before-rank, match_id tie-break) — the "
    "eval verb behind every ANN tuning decision, as a first-class "
    "relational operator instead of a driver-side probe script: one "
    "(query, match) equi-join + one per-query hash aggregate, LEFT "
    "join so queries the index missed entirely report 0.0 rather "
    "than vanishing. Oracle recomputes BOTH sides independently "
    "(brute-force SQL; the d20 literal candidate model + SQL rescore) "
    "and the same set join",
)
def d53(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        ivf_quantized_topk,
        topk_recall,
    )

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    exact = brute_force_topk(q, emb, k=5, score_round=4)
    approx = ivf_quantized_topk(
        q, emb, k=5, nlist=8, nprobe=4, refine=4,
        centroids=_ivf_seed_centroids(emb, 8), score_round=4,
    )
    return topk_recall(approx, exact)


@register(
    "d54_embedding_drift",
    """
    with p as (
      select unnest(generate_series(1,
               (select max(len(embedding)) from embeddings))) as pos
    ), ex as (
      select e.vec_id, p.pos, e.embedding[p.pos] as v
      from embeddings e cross join p
    ), ma as (
      select pos,
             cast(sum(cast(cast(v as double) as decimal(18,9))) as double)
               / count(*) as mean_a
      from ex where vec_id % 2 = 0 group by pos
    ), mb as (
      select pos,
             cast(sum(cast(cast(v as double) as decimal(18,9))) as double)
               / count(*) as mean_b
      from ex where vec_id % 2 = 1 group by pos
    )
    select cast(ma.pos as int) as pos, ma.mean_a, mb.mean_b,
           floor((mb.mean_b - ma.mean_a) * 1000000.0 + 0.5) / 1000000.0
             as shift
    from ma join mb on ma.pos = mb.pos
    """,
    doc="per-dimension embedding drift (embedding_drift) between two "
    "snapshot slices (even vs odd vec_ids standing in for old/new "
    "crawl embeddings) — the embedding-space complement to the d10 "
    "text drift monitor: DECIMAL(18,9)-exact per-dim means (the "
    "proven d06e formula) per side, full-outer joined on dimension, "
    "shift floor-scaled 1e6. One posexplode + (pos)-keyed hash agg "
    "per side, then a join of two dim-sized relations",
)
def d54(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.embeddings import embedding_drift

    emb = load(spark, sf, "embeddings")
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


@register(
    "d55_strip_html",
    r"""
    with h as (
      select doc_id,
             '<html><head><title>Doc ' || cast(doc_id as varchar) ||
             '</title><style type="text/css">p { color: red; }</style>' ||
             '</head><body><!-- nav & chrome --><h1>Doc ' ||
             cast(doc_id as varchar) || '</h1><p class="b">' ||
             coalesce(text, '') ||
             ' &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;tail' ||
             '</p><script>var x = 1 && x < 2;</script></body></html>'
               as raw
      from documents
    ), s1 as (
      select doc_id, raw,
        regexp_replace(raw, '(?is)<script\b[^>]*>[\s\S]*?</script>', ' ',
                       'g') as t
      from h
    ), s2 as (
      select doc_id, raw,
        regexp_replace(t, '(?is)<style\b[^>]*>[\s\S]*?</style>', ' ', 'g')
          as t
      from s1
    ), s3 as (
      select doc_id, raw,
        regexp_replace(t, '(?s)<!--[\s\S]*?-->', ' ', 'g') as t from s2
    ), s4 as (
      select doc_id, raw,
        regexp_replace(t, '(?s)<[^>]+>', ' ', 'g') as t from s3
    ), s5 as (
      select doc_id, raw,
        replace(replace(replace(replace(replace(replace(t,
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&#39;', ''''), '&amp;', '&') as t
      from s4
    )
    select doc_id,
           cast(len(raw) as int) as n_chars_raw,
           trim(regexp_replace(t, '\s+', ' ', 'g')) as text_plain,
           cast(len(trim(regexp_replace(t, '\s+', ' ', 'g'))) as int)
             as n_chars_plain
    from s5
    """,
    doc="crawl-grade HTML stripping (strip_html): script/style/comment "
    "blocks dropped wholesale, remaining tags to spaces, basic entity "
    "decode (&amp; LAST — one level per pass), whitespace collapse — "
    "the text-extraction pass before any quality/dedup stage, as one "
    "pure RE2/Java-compatible regexp projection (no DOM parser: "
    "malformed crawl HTML degrades to extra whitespace, never a "
    "dropped doc). Synthetic page chrome is built in-query around "
    "each fixture doc (title/style/comment/h1/attrs/entities/script "
    "with & and < operators); the oracle replays the identical chain",
)
def d55(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import strip_html

    d = load(spark, sf, "documents").select("doc_id", "text")
    raw = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</title><style type="text/css">p { color: red; }</style>'),
        F.lit("</head><body><!-- nav & chrome --><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit('</h1><p class="b">'),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(' &amp; more &lt;raw&gt; &quot;quoted&quot;&nbsp;tail'),
        F.lit("</p><script>var x = 1 && x < 2;</script></body></html>"),
    )
    return strip_html(
        d.select("doc_id", raw.alias("page")), "page", "text_plain"
    ).select("doc_id", "n_chars_raw", "text_plain", "n_chars_plain")


def _lsh_calibration_sql() -> str:
    """d56 oracle: literal (id_a, id_b, eq) pairs from the independent
    XXH64 banding model (eq = the estimate's exact integer numerator);
    DuckDB recomputes the EXACT shingle Jaccard on just those pairs
    (mirroring shingle_col: \\s+ split, 3-gram slide, distinct) and the
    same error arithmetic."""
    trips = pyoracle.minhash_pair_estimates(
        pyoracle.oracle_sf_dir(), threshold=0.5
    )
    if not trips:
        return (
            "select cast(null as bigint) as id_a, cast(null as bigint) "
            "as id_b, cast(null as double) as est_jaccard, cast(null as "
            "double) as exact_jaccard, cast(null as double) as abs_err "
            "where false"
        )
    vals = ", ".join(f"({a}, {b}, {e})" for a, b, e in trips)
    return f"""
    with p(id_a, id_b, eq) as (select * from (values {vals})),
    ids as (select id_a as d from p union select id_b from p),
    toks as (
      select doc_id, regexp_split_to_array(lower(text), '\\s+') as ws
      from documents join ids on doc_id = ids.d
    ), sh0 as (
      select doc_id, ws,
             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
      from toks
    ), sh as (
      select distinct doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') as s
      from sh0
    ), sizes as (
      select doc_id, count(*) as sz from sh group by doc_id
    ), ints as (
      select p.id_a, p.id_b, count(*) as ni
      from p
      join sh a on a.doc_id = p.id_a
      join sh b on b.doc_id = p.id_b and b.s = a.s
      group by 1, 2
    ), r as (
      select p.id_a, p.id_b, p.eq / 64.0 as est_jaccard,
             floor(coalesce(i.ni, 0) * 1.0
                   / (sa.sz + sb.sz - coalesce(i.ni, 0))
                   * 1000000.0 + 0.5) / 1000000.0 as exact_jaccard
      from p
      left join ints i on i.id_a = p.id_a and i.id_b = p.id_b
      join sizes sa on sa.doc_id = p.id_a
      join sizes sb on sb.doc_id = p.id_b
    )
    select cast(id_a as bigint) as id_a, cast(id_b as bigint) as id_b,
           est_jaccard, exact_jaccard,
           floor(abs(est_jaccard - exact_jaccard) * 1000000.0 + 0.5)
             / 1000000.0 as abs_err
    from r
    """


@register(
    "d56_lsh_calibration",
    _lsh_calibration_sql,
    doc="LSH calibration report (minhash_near_dup_pairs at threshold "
    "0.5 joined to pairwise_jaccard): banded MinHash ESTIMATE vs the "
    "EXACT shingle Jaccard on exactly the candidate pairs — the "
    "threshold-tuning table a production dedup reads before trusting "
    "the banding math on ITS corpus. pairwise_jaccard is pair-"
    "population-bounded (docs semi-joined to the pair relation before "
    "any shingle explosion — never corpus-wide, never an inverted-"
    "index self-join). The estimate is an exact rational (eq/64); the "
    "oracle gets eq as a literal integer from the independent XXH64 "
    "banding model and recomputes the exact side from raw text",
)
def d56(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import (
        minhash_near_dup_pairs,
        pairwise_jaccard,
        release_signature_caches,
    )

    docs = load(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16,
        jaccard_threshold=0.5,
    )
    exact = pairwise_jaccard(docs, pairs)
    err = F.floor(
        F.abs(F.col("est_jaccard") - F.col("exact_jaccard")) * 1000000.0
        + 0.5
    ) / 1000000.0
    out = (
        pairs.select("id_a", "id_b", "est_jaccard")
        .join(exact, ["id_a", "id_b"])
        .select(
            "id_a", "id_b", "est_jaccard", "exact_jaccard",
            err.alias("abs_err"),
        )
    )
    ck = out.localCheckpoint(eager=True)
    # exact's handle chains the upstream sig caches plus the shared
    # pair/shingle caches pairwise_jaccard persisted (r14)
    release_signature_caches(exact)
    release_signature_caches(pairs)
    return ck


@register(
    "d57_domain_profile",
    f"""
    with q as (
      select doc_id, source, {_QUALITY_EXPR} as quality_score,
             strlen(coalesce(text, '')) as nb
      from ({_STATS_SQL})
    ), u as (
      select doc_id, quality_score, nb, {_SYNTH_URL_SQL} as url from q
    ), {_DOMAIN_SQL}
    select domain,
           cast(count(*) as bigint) as n_docs,
           cast(sum(nb) as bigint) as n_bytes,
           floor(sum(cast(quality_score as decimal(18,6)))
                 / count(*) * 1000000.0 + 0.5) / 1000000.0
             as mean_quality,
           min(doc_id) as min_doc_id, max(doc_id) as max_doc_id
    from dom where domain is not null
    group by domain
    """,
    doc="per-domain corpus composition profile — the report every "
    "RefinedWeb-style pipeline prints beside the domain cap (which "
    "domains dominate the mix, at what quality): one hash aggregate "
    "over the registrable-domain projection — doc count, byte volume, "
    "DECIMAL-exact mean quality (floor-scaled 1e6), id range per "
    "domain. Composition of the proven d48 domain projection and d04c "
    "quality expression; junk-URL rows (NULL domain) are excluded "
    "here because d48b reports them explicitly",
)
def d57(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.domains import registrable_domain
    from basis_devkit_spark.operators.text import quality_score

    d = quality_score(load(spark, sf, "documents"), "text").withColumn(
        "url", _synth_url_col()
    )
    dom = registrable_domain(d, "url").filter(F.col("domain").isNotNull())
    return dom.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.octet_length(F.coalesce(F.col("text"), F.lit("")))
        ).cast("long").alias("n_bytes"),
        (
            F.floor(
                F.sum(F.col("quality_score").cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("mean_quality"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@register(
    "d58_robust_outliers",
    """
    with m as (
      select source,
             round(quantile_cont(cast(n_chars as double), 0.5), 4) as med
      from documents group by source
    ), a as (
      select d.doc_id, d.source, d.n_chars,
             cast(d.n_chars as double) as v, m.med
      from documents d join m on d.source is not distinct from m.source
    ), s as (
      select source,
             round(quantile_cont(abs(v - med), 0.5), 4) as mad
      from a group by source
    )
    select a.doc_id, a.source, a.n_chars, a.med, s.mad,
           case when s.mad > 0 then
             floor(0.6745 * (a.v - a.med) / s.mad * 1000000.0 + 0.5)
               / 1000000.0
           end as robust_z,
           coalesce(abs(case when s.mad > 0 then
             floor(0.6745 * (a.v - a.med) / s.mad * 1000000.0 + 0.5)
               / 1000000.0 end) > 3.5, false) as is_outlier
    from a join s on a.source is not distinct from s.source
    """,
    doc="median/MAD robust outlier scoring (robust_outliers) of doc "
    "length per source — the heavy-tail-safe curation filter (modified "
    "z = 0.6745*(x-med)/MAD, Iglewicz-Hoaglin cut 3.5) where e09's "
    "mean/stddev z would let one 10 MB crawl artifact inflate its own "
    "baseline: both statistics have 50% breakdown. Two exact-"
    "percentile hash aggs (median, then median of residuals — MAD is "
    "not algebraic), each a group-count-bounded broadcast back onto "
    "the scan; med/mad rounded to 4dp BEFORE scoring and the score "
    "floor-scaled 1e6 (the b24/d50 percentile-parity contract); "
    "zero-MAD groups get NULL z, false flag, explicitly",
)
def d58(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import robust_outliers

    d = load(spark, sf, "documents").select("doc_id", "source", "n_chars")
    return robust_outliers(d, "n_chars", group_col="source").select(
        "doc_id", "source", "n_chars", "med", "mad", "robust_z",
        "is_outlier",
    )


@register(
    "e17_ewma_control",
    """
    with o as (
      select event_id, user_id, ts, value,
             list(cast(value as double))
               filter (where value is not null) over (
               partition by user_id order by ts, event_id
               rows between 16 preceding and 1 preceding) as arr0
      from events
    ), r as (
      select event_id, user_id, ts, value, list_reverse(arr0) as arr
      from o
    ), e as (
      select event_id, user_id, ts, value,
        case when arr is not null and len(arr) > 0 then
          floor(
            list_reduce(
              list_transform(arr, (x, i) -> x * pow(0.5, i - 1)),
              (a, b) -> a + b)
            / list_reduce(
              list_transform(arr, (x, i) -> pow(0.5, i - 1)),
              (a, b) -> a + b)
            * 1000000.0 + 0.5) / 1000000.0
        end as ewma_prev
      from r
    )
    select event_id, user_id, ts, value, ewma_prev,
           floor((value - ewma_prev) * 1000000.0 + 0.5) / 1000000.0
             as deviation,
           coalesce(
             abs(floor((value - ewma_prev) * 1000000.0 + 0.5)
                 / 1000000.0) > 150.0, false) as is_alert
    from e
    """,
    doc="EWMA control chart (ewma_control, Roberts 1959) per user over "
    "event values: each observation scored against the exponentially "
    "weighted average of its own strictly-preceding trailing-16 "
    "values (weights (1-alpha)^age, normalized over values present — "
    "correct short baselines at series start). alpha=0.5 makes every "
    "weight an exact power of two, and both engines run the SAME "
    "sequential left fold (F.aggregate vs list_reduce), so the "
    "baseline is bit-identical before the 1e-6 floor-scaling. One "
    "16-bounded window per user — b31 cost class, no Python; first "
    "observations get NULL baseline and an explicit false flag",
)
def e17(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import ewma_control

    ev = load(spark, sf, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return ewma_control(
        ev, alpha=0.5, window=16, threshold=150.0
    ).select(
        "event_id", "user_id", "ts", "value", "ewma_prev", "deviation",
        "is_alert",
    )


# shared by d59 (one-shot) and c28 (streamed maintenance must equal
# the one-shot build byte-for-byte)
_KMEANS_REPORT_SQL = """
    with p as (
      select unnest(generate_series(1,
               (select max(len(embedding)) from embeddings))) as pos
    ), e as (
      select vec_id, label,
             list_transform(embedding, x -> cast(x as double)) as v
      from embeddings
    ), c0 as (
      select cast(row_number() over (order by vec_id) - 1 as int) as cl,
             v as c
      from (select vec_id, v from e order by vec_id limit 8)
    ), a1 as (
      select e.vec_id, e.label, e.v, c0.cl,
             list_reduce(
               list_transform(e.v, (x, i) -> (x - c0.c[i]) * (x - c0.c[i])),
               (a, b) -> a + b) as d
      from e cross join c0
    ), s1 as (
      select vec_id, label, v, cl,
             row_number() over (partition by vec_id order by d, cl) as rn
      from a1
    ), g1 as (
      select vec_id, label, v, cl from s1 where rn = 1
    ), m1 as (
      select cl, pos,
             round(cast(sum(cast(v[pos] as decimal(18,9))) as double)
                   / count(*), 6) as cv
      from g1 cross join p
      group by cl, pos
    ), n1 as (
      select cl, list(cv order by pos) as c from m1 group by cl
    ), c1 as (
      select c0.cl, coalesce(n1.c, c0.c) as c
      from c0 left join n1 on n1.cl = c0.cl
    ), a2 as (
      select e.vec_id, e.label, e.v, c1.cl,
             list_reduce(
               list_transform(e.v, (x, i) -> (x - c1.c[i]) * (x - c1.c[i])),
               (a, b) -> a + b) as d
      from e cross join c1
    ), s2 as (
      select vec_id, label, v, cl, d,
             row_number() over (partition by vec_id order by d, cl) as rn
      from a2
    ), g2p as (
      select vec_id, label, v, cl from s2 where rn = 1
    ), m2 as (
      select cl, pos,
             round(cast(sum(cast(v[pos] as decimal(18,9))) as double)
                   / count(*), 6) as cv
      from g2p cross join p
      group by cl, pos
    ), n2 as (
      select cl, list(cv order by pos) as c from m2 group by cl
    ), c2 as (
      select c1.cl, coalesce(n2.c, c1.c) as c
      from c1 left join n2 on n2.cl = c1.cl
    ), a3 as (
      select e.vec_id, e.label, e.v, c2.cl,
             list_reduce(
               list_transform(e.v, (x, i) -> (x - c2.c[i]) * (x - c2.c[i])),
               (a, b) -> a + b) as d
      from e cross join c2
    ), s3 as (
      select vec_id, label, v, cl, d,
             row_number() over (partition by vec_id order by d, cl) as rn
      from a3
    ), g2 as (
      select vec_id, label, cl, d from s3 where rn = 1
    ), rep as (
      select cl, cast(count(*) as bigint) as n_vecs,
             floor(cast(sum(cast(d as decimal(18,9))) as double)
                   * 1000000.0 + 0.5) / 1000000.0 as inertia
      from g2 group by cl
    ), lab as (
      select cl, label, count(*) as n from g2 group by cl, label
    ), maj as (
      select cl, label as majority_label, n,
             row_number() over (partition by cl order by n desc, label)
               as rn
      from lab
    )
    select c0.cl as cluster,
           coalesce(rep.n_vecs, 0) as n_vecs,
           coalesce(rep.inertia, 0.0) as inertia,
           mj.majority_label,
           floor(cast(mj.n as double) / rep.n_vecs * 1000000.0 + 0.5)
             / 1000000.0 as purity
    from c0
    left join rep on rep.cl = c0.cl
    left join (select * from maj where rn = 1) mj on mj.cl = c0.cl
    """


@register(
    "d59_kmeans_clusters",
    _KMEANS_REPORT_SQL,
    doc="distributed k-means corpus clustering report "
    "(kmeans_cluster_report, k=8, 2 Lloyd iterations over the full "
    "embeddings table): per-cluster size, DECIMAL-exact inertia, "
    "majority label + purity — the topic-structure audit behind "
    "cluster-balanced mixing and SemDeDup-style pruning. The fit is "
    "bit-reproducible at ANY parallelism by construction: no-RNG init "
    "(k lowest vec_ids), sequential-fold distances (identical FP "
    "order both engines), DECIMAL(18,9)-exact centroid means rounded "
    "to 6dp before the next round (partition order cannot change a "
    "ulp), ties to the lowest cluster. Per iteration: one scan + one "
    "(cluster,pos)-keyed map-side-combinable agg; only kxdim doubles "
    "reach the driver. The oracle replays the whole protocol unrolled "
    "in SQL — init, assign, exact means, assign, exact means, final "
    "assign, report (iters = centroid updates; the report scores "
    "against the FINAL centroids)",
)
def d59(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.clustering import (
        kmeans_cluster_report,
    )

    emb = load(spark, sf, "embeddings")
    return kmeans_cluster_report(
        emb, "vec_id", "embedding", k=8, iters=2, label_col="label"
    ).select("cluster", "n_vecs", "inertia", "majority_label", "purity")


@register(
    "d60_char_entropy",
    """
    with ch as (
      select doc_id, unnest(string_split(coalesce(text, ''), '')) as c0
      from documents
    ), f as (
      select doc_id, c0 as ch from ch where c0 <> ''
    ), cnt as (
      select doc_id, ch, count(*) as c from f group by doc_id, ch
    ), agg as (
      select doc_id,
             cast(sum(c) as bigint) as n_chars,
             cast(count(*) as bigint) as n_distinct_chars,
             cast(sum(cast(c * log2(cast(c as double)) as decimal(18,6)))
                  as double) as s,
             max(c) as mx
      from cnt group by doc_id
    )
    select d.doc_id,
           coalesce(a.n_chars, 0) as n_chars,
           coalesce(a.n_distinct_chars, 0) as n_distinct_chars,
           floor((log2(cast(a.n_chars as double)) - a.s / a.n_chars)
                 * 1000000.0 + 0.5) / 1000000.0 as entropy_bits,
           floor(cast(a.n_distinct_chars as double) / a.n_chars
                 * 1000000.0 + 0.5) / 1000000.0 as distinct_char_ratio,
           floor(cast(a.mx as double) / a.n_chars
                 * 1000000.0 + 0.5) / 1000000.0 as max_char_ratio
    from documents d left join agg a using (doc_id)
    """,
    doc="character-distribution quality signals (char_entropy_signals): "
    "per-doc Shannon entropy of the char unigram distribution in bits, "
    "distinct-char ratio, max-char mass — the cheap gate that catches "
    "keyboard mash / repeated-glyph blobs / padding runs that length "
    "and stopword rules miss. Cross-engine exactness: each c*log2(c) "
    "term (a function of a small integer) is DECIMAL(18,6)-truncated "
    "BEFORE the order-free exact sum, absorbing libm last-ulp wobble; "
    "score floor-scaled 1e6. One explode + (doc,char) map-side-"
    "combinable count + doc agg — the d44 cost class",
)
def d60(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import char_entropy_signals

    d = load(spark, sf, "documents").select("doc_id", "text")
    return char_entropy_signals(d).select(
        "doc_id", "n_chars", "n_distinct_chars", "entropy_bits",
        "distinct_char_ratio", "max_char_ratio",
    )


@register(
    "d61_label_propagation",
    """
    with l as (
      select l_orderkey as o, l_partkey as p from lineitem
    ), e0 as (
      select distinct least(a.p, b.p) as a, greatest(a.p, b.p) as b
      from l a join l b on a.o = b.o and a.p < b.p
    ), sym as (
      select a as s, b as d from e0
      union all
      select b as s, a as d from e0
    ), l0 as (
      select distinct s as node, s as lab from sym
    ), c1 as (
      select sym.s as node, l0.lab, cast(count(*) as bigint) as n
      from sym join l0 on l0.node = sym.d
      group by sym.s, l0.lab
    ), b1 as (
      select node, lab,
             row_number() over (partition by node order by n desc, lab)
               as rn
      from c1
    ), l1 as (
      select node, lab from b1 where rn = 1
    ), c2 as (
      select sym.s as node, l1.lab, cast(count(*) as bigint) as n
      from sym join l1 on l1.node = sym.d
      group by sym.s, l1.lab
    ), b2 as (
      select node, lab,
             row_number() over (partition by node order by n desc, lab)
               as rn
      from c2
    )
    select node, lab as community from b2 where rn = 1
    """,
    doc="deterministic synchronous label propagation "
    "(label_propagation, Raghavan et al. 2007; 2 rounds) over the "
    "part co-purchase graph — community detection between connected "
    "components (one LSH false positive merges two real duplicate "
    "groups) and triangle counting (too local): labels start as node "
    "ids, each round every node takes its neighborhood's most "
    "frequent previous-round label, count ties to the SMALLEST label "
    "— integer counts only, no RNG, no FP, so any partitioning gives "
    "the identical labeling. Per round one edge-to-label equi-join + "
    "one map-side-combinable (node,label) count + struct-min argmax; "
    "the oracle unrolls both rounds in SQL",
)
def d61(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import release_signature_caches
    from basis_devkit_spark.operators.graphrank import label_propagation

    l = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
    )
    out = label_propagation(edges, "id_a", "id_b", iters=2)
    ck = out.localCheckpoint(eager=True)
    release_signature_caches(out)
    return ck


@register(
    "c28_stream_kmeans_profile_maintenance",
    _KMEANS_REPORT_SQL,
    doc="streaming k-means cluster-profile maintenance: the centroids "
    "are a build-once artifact (the d59 fit, collected once); the "
    "corpus then arrives as TWO micro-batches, each assigned by a "
    "pure centroid-literal projection and folded into a persisted "
    "(cluster,label)-keyed state of integer counts + DECIMAL(28,9) "
    "inertia sums via the exactly-once merge sink — both statistics "
    "are exactly mergeable (integer/decimal addition is associative), "
    "so the profile read from the maintained state must equal the "
    "one-shot d59 report BYTE-FOR-BYTE (same oracle). Per batch: one "
    "batch-sized projection + one map-side-combinable agg + one "
    "k*labels-bounded upsert — packed history is never re-read",
)
def c28(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.clustering import (
        kmeans_assign,
        kmeans_fit_predict,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    emb = load(spark, sf, "embeddings")
    _, cents = kmeans_fit_predict(
        emb, "vec_id", "embedding", k=8, iters=2
    )

    tmp = _tf.mkdtemp(prefix="bds_c28_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        emb.filter(F.col("vec_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def batch_stats(batch: DataFrame) -> DataFrame:
        asg = kmeans_assign(batch, "embedding", cents)
        return asg.groupBy("cluster", "label").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("dist_sq").cast("decimal(18,9)"))
            .cast("decimal(28,9)")
            .alias("inertia_dec"),
        )

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        stats = batch_stats(batch)
        if existing is None:
            return stats
        prev = existing.select(
            "cluster", "label",
            F.col("n").alias("__pn"),
            F.col("inertia_dec").alias("__pi"),
        )
        zero = F.lit(0).cast("decimal(28,9)")
        return stats.join(prev, ["cluster", "label"], "full").select(
            "cluster", "label",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("__pn"), F.lit(0))
            ).cast("long").alias("n"),
            (
                F.coalesce(F.col("inertia_dec"), zero)
                + F.coalesce(F.col("__pi"), zero)
            ).cast("decimal(28,9)").alias("inertia_dec"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "kmeans_profile", spark)
    store.configure(unique_on=["cluster", "label"])
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state = store.read()
    scale = 1000000.0
    base = state.groupBy("cluster").agg(
        F.sum("n").cast("long").alias("n_vecs"),
        (
            F.floor(
                F.sum("inertia_dec").cast("double") * scale + 0.5
            ) / scale
        ).alias("inertia"),
    )
    maj = state.groupBy("cluster").agg(
        F.min(
            F.struct((-F.col("n")).alias("neg"), F.col("label").alias("lab"))
        ).alias("__m")
    ).select(
        "cluster",
        F.col("__m.lab").alias("majority_label"),
        (-F.col("__m.neg")).cast("long").alias("__maj_n"),
    )
    spine = spark.range(len(cents)).select(
        F.col("id").cast("int").alias("cluster")
    )
    return (
        spine.join(base, "cluster", "left")
        .join(maj, "cluster", "left")
        .select(
            "cluster",
            F.coalesce("n_vecs", F.lit(0).cast("long")).alias("n_vecs"),
            F.coalesce("inertia", F.lit(0.0)).alias("inertia"),
            "majority_label",
            (
                F.floor(
                    F.col("__maj_n").cast("double") / F.col("n_vecs")
                    * scale + 0.5
                ) / scale
            ).alias("purity"),
        )
    )


# shared by d62 (one-shot) and c29 (streamed term-count maintenance
# must reproduce the one-shot report byte-for-byte)
_ZIPF_SQL = r"""
    with t as (
      select unnest(regexp_split_to_array(
               lower(trim(coalesce(text, ''))), '\s+')) as term
      from documents
    ), f as (
      select term, cast(count(*) as bigint) as freq
      from t where term <> '' group by term
    ), tot as (
      select cast(count(*) as bigint) as n_vocab,
             cast(sum(freq) as bigint) as n_tokens
      from f
    ), r as (
      select term, freq,
             row_number() over (order by freq desc, term) as rank
      from f
    ), xy as (
      select
        cast(cast(log2(cast(rank as double)) as decimal(18,9)) as double)
          as x,
        cast(cast(log2(cast(freq as double)) as decimal(18,9)) as double)
          as y
      from r where rank <= 256
    ), m as (
      select cast(count(*) as double) as n,
             cast(sum(cast(x as decimal(18,9))) as double) as sx,
             cast(sum(cast(y as decimal(18,9))) as double) as sy,
             cast(sum(cast(x * y as decimal(18,9))) as double) as sxy,
             cast(sum(cast(x * x as decimal(18,9))) as double) as sxx,
             cast(sum(cast(y * y as decimal(18,9))) as double) as syy
      from xy
    )
    select tot.n_vocab, tot.n_tokens,
           cast(m.n as bigint) as n_fit_terms,
           floor((m.n * m.sxy - m.sx * m.sy)
                 / (m.n * m.sxx - m.sx * m.sx) * 1000000.0 + 0.5)
             / 1000000.0 as zipf_slope,
           floor((m.sy - ((m.n * m.sxy - m.sx * m.sy)
                          / (m.n * m.sxx - m.sx * m.sx)) * m.sx) / m.n
                 * 1000000.0 + 0.5) / 1000000.0 as intercept_log2,
           floor((m.n * m.sxy - m.sx * m.sy) * (m.n * m.sxy - m.sx * m.sy)
                 / ((m.n * m.sxx - m.sx * m.sx)
                    * (m.n * m.syy - m.sy * m.sy)) * 1000000.0 + 0.5)
             / 1000000.0 as r2
    from m cross join tot
    """


@register(
    "d62_zipf_fit",
    _ZIPF_SQL,
    doc="Zipf rank-frequency fit (zipf_fit): OLS of log2(freq) on "
    "log2(rank) over the top-256 terms — natural text sits near slope "
    "-1; shallow = boilerplate floods the head, steep = mode collapse "
    "/ synthetic contamination. The corpus-health check run beside "
    "d10 drift. Parity: integer ranks/freqs, DECIMAL-truncated logs "
    "and moment terms (absorbing libm last-ulp wobble), order-free "
    "decimal sums, closed-form arithmetic on identical double "
    "moments. Shape: map-side-combinable term count, top-256 via "
    "TakeOrdered (no vocab-wide sort), ranking window only over the "
    "256-row relation",
)
def d62(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import zipf_fit

    d = load(spark, sf, "documents").select("text")
    return zipf_fit(d, "text", top_r=256)


def _containment_sql() -> str:
    """d63 oracle: literal (id_a, id_b) pairs from the independent
    XXH64 banding model; DuckDB recomputes both containment directions
    on just those pairs (same shingle model as d56: \\s+ split, 3-gram
    slide, distinct)."""
    trips = pyoracle.minhash_pair_estimates(
        pyoracle.oracle_sf_dir(), threshold=0.5
    )
    if not trips:
        return (
            "select cast(null as bigint) as id_a, cast(null as bigint) "
            "as id_b, cast(null as bigint) as n_shared, cast(null as "
            "double) as containment_a_in_b, cast(null as double) as "
            "containment_b_in_a, cast(null as double) as "
            "max_containment where false"
        )
    vals = ", ".join(f"({a}, {b})" for a, b, _e in trips)
    return f"""
    with p(id_a, id_b) as (select * from (values {vals})),
    ids as (select id_a as d from p union select id_b from p),
    toks as (
      select doc_id, regexp_split_to_array(lower(text), '\\s+') as ws
      from documents join ids on doc_id = ids.d
    ), sh0 as (
      select doc_id, ws,
             unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
      from toks
    ), sh as (
      select distinct doc_id,
             array_to_string(list_slice(ws, i, i + 2), ' ') as s
      from sh0
    ), sizes as (
      select doc_id, count(*) as sz from sh group by doc_id
    ), ints as (
      select p.id_a, p.id_b, cast(count(*) as bigint) as ni
      from p
      join sh a on a.doc_id = p.id_a
      join sh b on b.doc_id = p.id_b and b.s = a.s
      group by 1, 2
    )
    select cast(p.id_a as bigint) as id_a, cast(p.id_b as bigint) as id_b,
           coalesce(i.ni, 0) as n_shared,
           floor(coalesce(i.ni, 0) * 1.0 / sa.sz * 1000000.0 + 0.5)
             / 1000000.0 as containment_a_in_b,
           floor(coalesce(i.ni, 0) * 1.0 / sb.sz * 1000000.0 + 0.5)
             / 1000000.0 as containment_b_in_a,
           greatest(
             floor(coalesce(i.ni, 0) * 1.0 / sa.sz * 1000000.0 + 0.5)
               / 1000000.0,
             floor(coalesce(i.ni, 0) * 1.0 / sb.sz * 1000000.0 + 0.5)
               / 1000000.0) as max_containment
    from p
    left join ints i on i.id_a = p.id_a and i.id_b = p.id_b
    join sizes sa on sa.doc_id = p.id_a
    join sizes sb on sb.doc_id = p.id_b
    """


@register(
    "d63_containment_pairs",
    _containment_sql,
    doc="exact shingle containment on LSH candidate pairs "
    "(pairwise_containment; Broder 1997's asymmetric resemblance): "
    "|A∩B|/|A| and |A∩B|/|B| per candidate pair — a short doc quoted "
    "wholesale inside a long one scores ~1.0 containment while its "
    "symmetric Jaccard stays low (union dominated by the long side), "
    "the quote-inclusion/boilerplate-wrapper duplicates a Jaccard "
    "threshold ships to training. Same pair-population-bounded shape "
    "as d56 (semi-join before any shingle explosion, two equi-joins, "
    "one per-pair agg); pairs as literals from the independent XXH64 "
    "banding model, both directions recomputed from raw text in SQL",
)
def d63(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import (
        minhash_near_dup_pairs,
        pairwise_containment,
        release_signature_caches,
    )

    docs = load(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16,
        jaccard_threshold=0.5,
    )
    out = pairwise_containment(docs, pairs.select("id_a", "id_b"))
    ck = out.localCheckpoint(eager=True)
    # out's handle holds the shared pair/shingle caches (r14); pairs'
    # holds the signature caches (the .select above dropped the rider)
    release_signature_caches(out)
    release_signature_caches(pairs)
    return ck


@register(
    "c29_stream_zipf_maintenance",
    _ZIPF_SQL,
    doc="streaming Zipf-health maintenance: the corpus arrives as TWO "
    "micro-batches; each batch's term counts (zipf_term_counts — a "
    "PERFECTLY mergeable relation, integer addition per term) fold "
    "into a persisted term-frequency store via the exactly-once merge "
    "sink, and the report read from the maintained counts "
    "(zipf_fit_from_counts) must equal the one-shot d62 fit "
    "BYTE-FOR-BYTE (same oracle). Per batch: one batch-sized explode + "
    "map-side-combinable count + vocab-keyed upsert; the corpus is "
    "never re-read — the monitor any streaming ingest prints per "
    "commit for free",
)
def c29(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.text import (
        zipf_fit_from_counts,
        zipf_term_counts,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    docs = load(spark, sf, "documents").select("doc_id", "text")

    tmp = _tf.mkdtemp(prefix="bds_c29_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        docs.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        counts = zipf_term_counts(batch, "text")
        if existing is None:
            return counts
        prev = existing.select("term", F.col("freq").alias("__pf"))
        return counts.join(prev, "term", "full").select(
            "term",
            (
                F.coalesce(F.col("freq"), F.lit(0))
                + F.coalesce(F.col("__pf"), F.lit(0))
            ).cast("long").alias("freq"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "term_counts", spark)
    store.configure(unique_on="term")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return zipf_fit_from_counts(store.read(), top_r=256)


def _mp3_hex(vbits, lbits, br, sr, pad=0, mode=0, id3_size=None,
             footer=False, corrupt_size=False):
    b2 = 0xE0 | (vbits << 3) | (lbits << 1) | 1
    b3 = (br << 4) | (sr << 2) | (pad << 1)
    frame = bytes([0xFF, b2, b3, mode << 6])
    pre = b""
    if id3_size is not None:
        size = bytes([
            (id3_size >> 21) & 0x7F, (id3_size >> 14) & 0x7F,
            (id3_size >> 7) & 0x7F, id3_size & 0x7F,
        ])
        if corrupt_size:          # MSB set: untrustworthy syncsafe size
            size = bytes([size[0] | 0x80]) + size[1:]
        flags = 0x10 if footer else 0x00
        pre = b"ID3\x04\x00" + bytes([flags]) + size + b"\x00" * id3_size
        if footer:                # footer sits AFTER the body (v2.4 §3.1)
            pre += b"3DI\x04\x00" + bytes([flags]) + size
    return (pre + frame).hex()


# (hex, is_mp3, has_id3, id3_size, version, layer, kbps, hz, mode, pad)
_MP3_HEADERS = [
    (_mp3_hex(3, 1, 9, 0, mode=1), True, False, None, "1", 3, 128,
     44100, "joint_stereo", False),
    (_mp3_hex(3, 1, 14, 1, id3_size=64), True, True, 64, "1", 3, 320,
     48000, "stereo", False),
    (_mp3_hex(2, 1, 8, 0, mode=3), True, False, None, "2", 3, 64,
     22050, "mono", False),
    (_mp3_hex(0, 1, 2, 2, pad=1, mode=3), True, False, None, "2.5", 3,
     16, 8000, "mono", True),
    (_mp3_hex(3, 3, 5, 1), True, False, None, "1", 1, 160, 48000,
     "stereo", False),
    (_mp3_hex(3, 1, 0, 0), True, False, None, "1", 3, None, 44100,
     "stereo", False),                      # free-format: NULL kbps
    ("00010203", False, False, None, None, None, None, None, None,
     None),                                  # no sync
    (_mp3_hex(1, 1, 9, 0), False, False, None, None, None, None, None,
     None, None),                            # reserved version
    (_mp3_hex(3, 1, 9, 0, id3_size=32, footer=True), True, True, 32,
     "1", 3, 128, 44100, "stereo", False),   # footered ID3v2.4 tag
    (_mp3_hex(3, 1, 9, 0, id3_size=32, corrupt_size=True), False,
     False, None, None, None, None, None, None,
     None),                                  # MSB-set syncsafe size
]


@register(
    "d05g_mp3_frame_parse",
    f"""
    with blobs as (
      select doc_id, doc_id % 10 as variant from documents
    ), truth as (
      select * from (values
        {", ".join(
            "({i}, {ok}, {h3}, {hs}, {v}, {l}, {kb}, {hz}, {m}, {p})".format(
                i=i,
                ok="true" if ok else "false",
                h3="true" if h3 else "false",
                hs=hs if hs is not None else "cast(null as bigint)",
                v="'" + v + "'" if v is not None else "cast(null as varchar)",
                l=l if l is not None else "cast(null as int)",
                kb=kb if kb is not None else "cast(null as int)",
                hz=hz if hz is not None else "cast(null as int)",
                m="'" + m + "'" if m is not None else "cast(null as varchar)",
                p=("1" if p else "0") if p is not None
                  else "cast(null as int)",
            )
            for i, (_, ok, h3, hs, v, l, kb, hz, m, p)
            in enumerate(_MP3_HEADERS)
        )}
      ) as t(variant, is_mp3, has_id3v2, id3_size, mpeg_version, layer,
             bitrate_kbps, sample_rate, channel_mode, padding)
    )
    select b.doc_id, t.is_mp3, t.has_id3v2,
           cast(t.id3_size as bigint) as id3_size,
           t.mpeg_version, cast(t.layer as int) as layer,
           cast(t.bitrate_kbps as int) as bitrate_kbps,
           cast(t.sample_rate as int) as sample_rate,
           t.channel_mode, cast(t.padding as int) as padding
    from blobs b join truth t on b.variant = t.variant
    """,
    doc="decode-free MPEG-audio frame sniff (ISO/IEC 11172-3/13818-3, "
    "public): ID3v2 tag skipped by its SYNCSAFE SIZE (never a scan), "
    "then version/layer/bitrate/sample-rate/channel-mode/padding "
    "parsed from the 4-byte header as pure hex-slice + conv + bit "
    "arithmetic — no UDF, no codec, O(1) bytes per row. Variants "
    "exercise all three MPEG versions, Layers I/III, an ID3-prefixed "
    "stream, free-format (NULL kbps, still valid), a sync-less blob "
    "and a reserved version id (both rejected). Oracle derives ground "
    "truth from the construction table, independently checking the "
    "byte surgery",
)
def d05g(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import mp3_frame_fields

    d = load(spark, sf, "documents").select("doc_id")
    hdr = None
    for i, (hx, *_rest) in enumerate(_MP3_HEADERS):
        cond = F.col("doc_id") % 10 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn("content", hdr)
    s = mp3_frame_fields("content")
    return blobs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


@register(
    "d64_source_kl",
    r"""
    with t as (
      select source, unnest(regexp_split_to_array(
               lower(trim(coalesce(text, ''))), '\s+')) as term
      from documents
    ), f as (
      select source, term, cast(count(*) as bigint) as c
      from t where term <> '' group by source, term
    ), ct as (
      select term, cast(sum(c) as bigint) as ct from f group by term
    ), ns as (
      select source, cast(sum(c) as bigint) as n_tokens,
             cast(count(*) as bigint) as n_types
      from f group by source
    ), tot as (
      select cast(sum(c) as bigint) as n from f
    ), terms as (
      select f.source,
        (cast(f.c as double) / ns.n_tokens) * (
          cast(cast(log2(cast(f.c as double)) as decimal(18,9)) as double)
          + cast(cast(log2(cast(tot.n as double)) as decimal(18,9))
                 as double)
          - cast(cast(log2(cast(ct.ct as double)) as decimal(18,9))
                 as double)
          - cast(cast(log2(cast(ns.n_tokens as double)) as decimal(18,9))
                 as double)
        ) as term_kl
      from f
      join ct using (term)
      join ns using (source)
      cross join tot
    )
    select ns.source, ns.n_tokens, ns.n_types,
           floor(k.s * 1000000.0 + 0.5) / 1000000.0 as kl_bits
    from ns join (
      select source,
             cast(sum(cast(term_kl as decimal(18,9))) as double) as s
      from terms group by source
    ) k using (source)
    """,
    doc="per-source KL divergence from the corpus term distribution "
    "(source_kl_divergence) — the information-theoretic drift/mixture "
    "companion to d10's TV distance and d22's mixture weights: a KL "
    "spike = vocabulary the rest of the corpus doesn't share (fresh "
    "domain: keep; template farm / synthetic flood: cap). Every log "
    "is a log of an INTEGER, DECIMAL(18,9)-truncated (the d60 libm-"
    "wobble absorber); weights are exact integer ratios, so per-term "
    "products are identical doubles both engines, DECIMAL(18,9)-"
    "rounded into an order-free exact sum. One explode + map-side "
    "(source,term) count + term-keyed totals + broadcast source "
    "totals — no windows, vocabulary never sorted",
)
def d64(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import source_kl_divergence

    d = load(spark, sf, "documents").select("source", "text")
    return source_kl_divergence(d)


def _markov_attribution_sql(iters: int = 8) -> str:
    """e18 oracle: the full removal-effect protocol unrolled in SQL —
    journey edges, per-variant transition chains (full + one per
    removed channel), ``iters`` bounded-horizon absorption steps on
    exact scaled INTEGERS (``P' = (Σ n·P) // n_src`` — the pagerank
    trick, no float op in the recursion), then normalized removal
    effects with one integer→double division per output cell."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""p{t} as (
      select c.variant, c.src as state,
             cast(sum(c.n * p.p) // c.ns as bigint) as p
      from chain c join p{t - 1} p
        on p.variant = c.variant and p.state = c.dst
      group by c.variant, c.src, c.ns
    )""")
    return f"""
    with o as (
      select user_id, event_type, ts, event_id,
             lag(event_type) over (partition by user_id
                                   order by ts, event_id) as prev,
             row_number() over (partition by user_id
                                order by ts desc, event_id desc) as rd
      from events
    ), e as (
      select case when prev is null or prev = 'purchase' then 'start'
                  else prev end as src,
             case when event_type = 'purchase' then 'conv'
                  else event_type end as dst
      from o
      union all
      select event_type, 'null' from o
      where rd = 1 and event_type <> 'purchase'
    ), t0 as (
      select src, dst, cast(count(*) as bigint) as n
      from e group by src, dst
    ), tsrc as (
      select src, cast(sum(n) as bigint) as ns from t0 group by src
    ), tfull as (
      select t0.src, t0.dst, t0.n, tsrc.ns
      from t0 join tsrc using (src)
    ), variants as (
      select distinct event_type as variant from events
      where event_type <> 'purchase'
      union all select 'full'
    ), tvar as (
      select v.variant, t.src,
             case when v.variant <> 'full' and t.dst = v.variant
                  then 'null' else t.dst end as dst,
             t.ns, cast(sum(t.n) as bigint) as n
      from variants v cross join tfull t
      group by 1, 2, 3, 4
    ), chain as (
      select variant, src, dst, n, ns from tvar
      union all
      select v.variant, a.s, a.s, 1, 1
      from variants v cross join
           (select 'conv' as s union all select 'null') a
    ), p0 as (
      select variant, 'conv' as state,
             cast(1000000000 as bigint) as p
      from variants
    ), {", ".join(steps)},
    ps as (
      select v.variant, coalesce(pp.p, 0) as p
      from variants v left join
           (select variant, p from p{iters} where state = 'start') pp
        on pp.variant = v.variant
    ), fullp as (
      select p as pf from ps where variant = 'full'
    ), nconv as (
      select cast(count(*) as bigint) as nc from events
      where event_type = 'purchase'
    ), scored as (
      select ps.variant as channel, ps.p as pr, fullp.pf,
             fullp.pf - ps.p as re
      from ps cross join fullp
      where ps.variant <> 'full'
    ), tot as (
      select cast(sum(re) as bigint) as t from scored
    )
    select channel,
           floor(cast(pf as double) / 1000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 as p_conv,
           floor(cast(pr as double) / 1000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 as p_conv_removed,
           floor(cast(re as double) / 1000000000.0
                 * 1000000.0 + 0.5) / 1000000.0 as removal_effect,
           case when tot.t > 0 then
             floor(cast(re as double) / cast(tot.t as double)
                   * 1000000.0 + 0.5) / 1000000.0
           end as credit,
           case when tot.t > 0 then
             floor(cast(re as double) / cast(tot.t as double)
                   * cast(nconv.nc as double)
                   * 1000000.0 + 0.5) / 1000000.0
           end as attributed_conversions
    from scored cross join tot cross join nconv
    """


@register(
    "e18_markov_attribution",
    _markov_attribution_sql,
    doc="Markov removal-effect attribution (markov_attribution) — the "
    "data-driven model behind e16's first/last/linear heuristics: "
    "first-order journey chain (start → touches → conv/null, journeys "
    "split at each conversion), 8-step bounded-horizon absorption "
    "probability, then per channel the conversion probability lost "
    "when transitions into it redirect to null; credit = normalized "
    "removal effect. NO float op anywhere in the recursion (the "
    "pagerank trick): probabilities are exact scaled integers, each "
    "step is integer-multiply -> associative integer sum -> one "
    "integer floor division per state, so the state is bit-identical "
    "at any parallelism on any engine; only the final report divides "
    "integers into doubles. Corpus-sized work = one lag window + "
    "one (src,dst) count; ALL chain variants iterate together on the "
    "states²×variants bounded artifact. The oracle unrolls the whole "
    "protocol — edges, per-variant chains, all 8 steps, normalization",
)
def e18(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import markov_attribution

    ev = load(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return markov_attribution(ev, conv_event="purchase", iters=8)


@register(
    "d65_quality_ecdf",
    f"""
    with q as (
      select doc_id, source, {_QUALITY_EXPR} as quality_score
      from ({_STATS_SQL})
    ), r as (
      select doc_id, source, quality_score,
             cast(row_number() over (partition by source
                                     order by quality_score, doc_id)
                  as bigint) as rank_in_group,
             cast(count(*) over (partition by source) as bigint)
               as n_in_group
      from q where quality_score is not null
    )
    select doc_id, source, quality_score, rank_in_group, n_in_group,
           floor((cast(rank_in_group as double) - 0.5)
                 / cast(n_in_group as double) * 1000000.0 + 0.5)
             / 1000000.0 as score_pct
    from r
    union all
    select doc_id, source, quality_score,
           cast(null as bigint) as rank_in_group,
           cast(null as bigint) as n_in_group,
           cast(null as double) as score_pct
    from q where quality_score is null
    """,
    doc="cross-source quality calibration (quality_ecdf_normalize): "
    "raw classifier scores are not comparable across sources (0.7 on "
    "curated wiki and 0.7 on raw crawl mean different things) — "
    "replace each doc's score with its Hazen ECDF position "
    "(rank-0.5)/n WITHIN its source, so one threshold keeps the same "
    "fraction everywhere. Exact integer ranks, ties on doc_id, score "
    "floor-scaled; NULL scores are excluded from the ranking and pass "
    "through with NULL rank/pct (both engines by construction). NO "
    "window spans a whole source — the within-source rank is the d21 "
    "value-bucketed two-phase prefix per (source, score-bucket), so a "
    "mega-source never serializes through one task's sort; the only "
    "source-wide window runs over the bounded (source x bucket) count "
    "table, broadcast back",
)
def d65(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import (
        quality_ecdf_normalize,
        quality_score,
    )

    d = quality_score(load(spark, sf, "documents"), "text")
    return quality_ecdf_normalize(d).select(
        "doc_id", "source", "quality_score", "rank_in_group",
        "n_in_group", "score_pct",
    )


@register(
    "c30_stream_outer_interval_join",
    """
    with v as (
      select event_id, user_id, ts from events where event_type = 'view'
    ), p as (
      select event_id, user_id, ts from events
      where event_type = 'purchase'
    )
    select v.event_id as view_id, v.user_id, v.ts as view_ts,
           p.event_id as purchase_id, p.ts as purchase_ts
    from v left join p
      on p.user_id = v.user_id
     and p.ts >= v.ts
     and p.ts <= v.ts + interval 30 minutes
    """,
    doc="stream-stream LEFT OUTER interval join (stream_interval_join "
    "how='leftOuter'): views pair with a purchase by the same user "
    "within 30 minutes, and views that never convert MUST still emit "
    "(with NULLs) — which only happens when the watermark passes "
    "view_ts + delay, so the query drives a far-future FLUSH batch "
    "through both sides after the data batches (the standard "
    "watermark-flush pattern for bounded replays; in production the "
    "next real data plays this role). Both sides watermarked + the "
    "range condition = bounded join state (a buffered view drops once "
    "the purchase watermark passes view_ts+30min). Streamed result "
    "must equal the BATCH left interval join exactly",
)
def c30(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf
    import time as _time

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import (
        stream_append_to_store,
        stream_interval_join,
    )

    ev = load(spark, sf, "events")
    # watermarks need TIMESTAMP (parquet micros arrive NTZ; the
    # session runs UTC, so the cast is lossless — session_stats note)
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id",
        F.col("ts").cast("timestamp").alias("view_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").cast("timestamp").alias("purchase_ts"),
    )
    far = ev.agg(
        (F.max("ts") + F.expr("interval 30 days")).alias("far_ts")
    ).collect()[0]["far_ts"]

    tmp = _tf.mkdtemp(prefix="bds_c30_")
    drops = {}
    for side, df_side, ts_col, id_cols in (
        ("v", views, "view_ts", ("view_id", "user_id")),
        ("p", buys, "purchase_ts", ("purchase_id", "p_user_id")),
    ):
        drop = _os.path.join(tmp, f"drop_{side}")
        _os.makedirs(drop, exist_ok=True)
        for tag, mod in (("a", 0), ("b", 1)):
            part_dir = _os.path.join(tmp, f"part_{side}_{tag}")
            df_side.filter(
                F.col(id_cols[0]) % 2 == mod
            ).coalesce(1).write.parquet(part_dir)
            src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
            _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
        # the flush batch: one sentinel row far past every real event —
        # advances the watermark so end-of-replay unmatched state emits
        sent_dir = _os.path.join(tmp, f"sent_{side}")
        df_side.limit(1).select(
            F.lit(-1).cast("long").alias(id_cols[0]),
            F.lit(-1).cast("long").alias(id_cols[1]),
            F.lit(far).alias(ts_col),
        ).coalesce(1).write.parquet(sent_dir)
        src = _glob.glob(_os.path.join(sent_dir, "part-*.parquet"))[0]
        _time.sleep(0.01)
        _shutil.copy(src, _os.path.join(drop, "z_flush.parquet"))
        drops[side] = drop

    vschema = spark.read.parquet(drops["v"]).schema
    pschema = spark.read.parquet(drops["p"]).schema
    vstream = (
        spark.readStream.schema(vschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops["v"])
    )
    pstream = (
        spark.readStream.schema(pschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drops["p"])
    )
    joined = stream_interval_join(
        vstream.withColumnRenamed("user_id", "on_key"),
        pstream.withColumnRenamed("p_user_id", "on_key"),
        on="on_key",
        left_ts="view_ts",
        right_ts="purchase_ts",
        max_delay="30 minutes",
        watermark="0 seconds",
        how="leftOuter",
    )
    store = TableStore(tmp, "attributed_views", spark)
    q = stream_append_to_store(
        joined, store, f"{tmp}/_ckpt"
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        store.read()
        .filter(F.col("view_id") >= 0)  # drop the flush sentinel
        .select(
            "view_id",
            F.col("on_key").alias("user_id"),
            "view_ts",
            "purchase_id",
            "purchase_ts",
        )
    )


def _webp_hex(variant: str, w: int, h: int) -> str:
    import struct as _st

    if variant == "vp8":
        payload = (
            b"\x00\x00\x00\x9d\x01\x2a" + _st.pack("<HH", w, h)
            + b"\x00" * 10
        )
        chunk = b"VP8 "
    elif variant == "vp8l":
        bits = (w - 1) | ((h - 1) << 14)
        payload = b"\x2f" + _st.pack("<I", bits) + b"\x00" * 10
        chunk = b"VP8L"
    else:  # vp8x
        payload = (
            b"\x00\x00\x00\x00"
            + _st.pack("<I", w - 1)[:3] + _st.pack("<I", h - 1)[:3]
            + b"\x00" * 8
        )
        chunk = b"VP8X"
    body = chunk + _st.pack("<I", len(payload)) + payload
    return (
        b"RIFF" + _st.pack("<I", 4 + len(body)) + b"WEBP" + body
    ).hex()


# (hex, is_webp, variant, width, height)
_WEBP_HEADERS = [
    (_webp_hex("vp8", 640, 480), True, "vp8", 640, 480),
    (_webp_hex("vp8l", 1024, 768), True, "vp8l", 1024, 768),
    (_webp_hex("vp8x", 16384, 9000), True, "vp8x", 16384, 9000),
    (_webp_hex("vp8", 16383, 1), True, "vp8", 16383, 1),  # 14-bit max
    (("52494646" + "24000000" + "57415645" + "00" * 22), False,
     None, None, None),                       # RIFF but WAVE
    (_webp_hex("vp8l", 1, 16384), True, "vp8l", 1, 16384),
    (("00" * 30), False, None, None, None),   # no magic
]


@register(
    "d05h_webp_dimensions",
    f"""
    with blobs as (
      select doc_id, doc_id % 7 as variant_id from documents
    ), truth as (
      select * from (values
        {", ".join(
            "({i}, {ok}, {v}, {w}, {h})".format(
                i=i,
                ok="true" if ok else "false",
                v="'" + v + "'" if v is not None else "cast(null as varchar)",
                w=w if w is not None else "cast(null as int)",
                h=h if h is not None else "cast(null as int)",
            )
            for i, (_, ok, v, w, h) in enumerate(_WEBP_HEADERS)
        )}
      ) as t(variant_id, is_webp, variant, width, height)
    )
    select b.doc_id, t.is_webp, t.variant,
           cast(t.width as int) as width, cast(t.height as int) as height
    from blobs b join truth t on b.variant_id = t.variant_id
    """,
    doc="decode-free WebP dimension parse (webp_dimensions, RIFF spec): "
    "all three container variants — VP8 lossy (14-bit LE fields after "
    "the 0x9D012A start code), VP8L lossless (14+14 bits packed in the "
    "LE32 after 0x2F), VP8X extended (24-bit LE canvas minus-one) — "
    "as pure hex-slice + little-endian reassembly + bit arithmetic, "
    "O(1) bytes per row. Variants exercise 14-bit boundary sizes, a "
    "RIFF-but-WAVE rejection and a magicless blob; oracle derives "
    "ground truth from the construction table",
)
def d05h(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import webp_dimensions

    d = load(spark, sf, "documents").select("doc_id")
    hdr = None
    for i, (hx, *_rest) in enumerate(_WEBP_HEADERS):
        cond = F.col("doc_id") % 7 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn("content", hdr)
    s = webp_dimensions("content")
    return blobs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


@register(
    "e19_retention_decay",
    """
    with first as (
      select user_id, cast(date_trunc('week', min(ts)) as date) as cohort
      from events group by user_id
    ), act as (
      select distinct user_id, cast(ts as date) as day from events
    ), coh as (
      select cohort,
             cast(floor(date_diff('day', cohort, day) / 7.0) as int)
               as period_offset,
             count(distinct a.user_id) as n_users
      from act a join first f on a.user_id = f.user_id
      group by cohort, period_offset
    ), base as (
      select cohort, n_users as n0 from coh where period_offset = 0
    ), pts as (
      select c.cohort, b.n0,
             cast(c.period_offset as double) as x,
             cast(cast(log2(cast(c.n_users as double)) as decimal(18,9))
                  as double)
             - cast(cast(log2(cast(b.n0 as double)) as decimal(18,9))
                    as double) as y
      from coh c join base b using (cohort)
      where c.period_offset >= 1
    ), m as (
      select cohort, n0,
             cast(count(*) as double) as n,
             cast(sum(x) as double) as sx,
             cast(sum(x * x) as double) as sxx,
             cast(sum(cast(y as decimal(18,9))) as double) as sy,
             cast(sum(cast(x * y as decimal(18,9))) as double) as sxy,
             cast(sum(cast(y * y as decimal(18,9))) as double) as syy
      from pts group by cohort, n0
      having count(*) >= 3
    )
    select cohort,
           cast(n as bigint) as n_points,
           n0,
           floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
                 * 1000000.0 + 0.5) / 1000000.0 as decay_log2,
           case when (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0 then
             floor(-1.0 / ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * 1000000.0 + 0.5) / 1000000.0
           end as half_life_periods,
           case when (n * syy - sy * sy) > 0 then
             floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
                   / ((n * sxx - sx * sx) * (n * syy - sy * sy))
                   * 1000000.0 + 0.5) / 1000000.0
           end as r2
    from m
    """,
    doc="per-cohort exponential retention-decay fit "
    "(retention_decay_fit): OLS of log2(retention rate) on week offset "
    "over the e03 cohort matrix — slope = log2 retention lost/week, "
    "half-life = -1/slope, the curve a growth report summarizes the "
    "cohort table with; <3-point cohorts excluded (two points always "
    "fit perfectly). Every log is a log of an INTEGER (DECIMAL(18,9)-"
    "rounded — the d60/d64 wobble absorber), offsets are exact small "
    "integers, y-moments decimal-summed order-free, closed-form OLS "
    "on identical double moments. Corpus cost = exactly e03's two "
    "aggregates; the fit runs on the cohort×offset relation",
)
def e19(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import retention_decay_fit

    return retention_decay_fit(load(spark, sf, "events"))


def _cluster_terms_sql() -> str:
    r"""d66 oracle: the d59 unrolled k-means protocol (same CTE chain,
    sliced before its report) feeding a c-TF-IDF term scoring — counts
    and cluster-df are integers, both log2 inputs integer-valued and
    DECIMAL(18,9)-rounded, rank by (score desc, term)."""
    prefix = _KMEANS_REPORT_SQL[: _KMEANS_REPORT_SQL.index("), rep as (")]
    return prefix + r"""
    ), toks as (
      select g2.cl as cluster, t.term
      from g2 join (
        select doc_id, unnest(regexp_split_to_array(
                 lower(trim(coalesce(text, ''))), '\s+')) as term
        from documents
      ) t on t.doc_id = g2.vec_id
      where t.term <> ''
    ), tf as (
      select cluster, term, cast(count(*) as bigint) as n_occurrences
      from toks group by cluster, term
    ), dfc as (
      select term, cast(count(*) as bigint) as dfc from tf group by term
    ), scored as (
      select tf.cluster, tf.term, tf.n_occurrences,
        cast(tf.n_occurrences as double) * (
          cast(cast(log2(cast(
            (select count(distinct cl) from g2) + 1 as double))
            as decimal(18,9)) as double)
          - cast(cast(log2(cast(dfc.dfc + 1 as double))
            as decimal(18,9)) as double)
        ) as score
      from tf join dfc using (term)
    ), ranked as (
      select cluster, term, n_occurrences, score,
             row_number() over (partition by cluster
                                order by score desc, term) as term_rank
      from scored
    )
    select cluster, cast(term_rank as int) as term_rank, term,
           n_occurrences,
           floor(score * 1000000.0 + 0.5) / 1000000.0 as score
    from ranked where term_rank <= 5
    """


@register(
    "d66_cluster_top_terms",
    _cluster_terms_sql,
    doc="k-means topic labeling (cluster_top_terms, the c-TF-IDF idea "
    "— Grootendorst 2022): top-5 terms per embedding cluster scored "
    "count x log2((1+n_clusters)/(1+cluster_df)) — frequent HERE, rare "
    "elsewhere; what turns the d59 size/inertia report into 'cluster 3 "
    "is legal boilerplate'. Embeddings pair with documents by the "
    "fixture's positional ids (vec_id = doc_id). Integer counts/df, "
    "integer-log DECIMAL rounding, identical-double scores, "
    "deterministic (score desc, term) ranks; one explode + map-side "
    "(cluster,term) count + term-keyed df agg + rank-only window over "
    "few clusters. The oracle replays the WHOLE chain — the unrolled "
    "2-iteration k-means protocol feeding the term scoring",
)
def d66(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.clustering import (
        cluster_top_terms,
        kmeans_fit_predict,
    )

    emb = load(spark, sf, "embeddings")
    asg, _ = kmeans_fit_predict(emb, "vec_id", "embedding", k=8, iters=2)
    docs = load(spark, sf, "documents").select("doc_id", "text")
    return cluster_top_terms(
        asg.select(F.col("vec_id").alias("doc_id"), "cluster"),
        docs,
        k_terms=5,
    )


@register(
    "e20_transition_entropy",
    """
    with o as (
      select lag(event_type) over (partition by user_id
                                   order by ts, event_id) as state,
             event_type as next
      from events
    ), cnt as (
      select state, next, cast(count(*) as bigint) as c
      from o where state is not null group by state, next
    ), agg as (
      select state,
             cast(sum(c) as bigint) as n_out,
             cast(count(*) as bigint) as n_next_states,
             cast(sum(cast(c * log2(cast(c as double)) as decimal(18,9)))
                  as double) as s,
             min(struct_pack(neg := -c, nx := next)) as m
      from cnt group by state
    )
    select state, n_out, n_next_states,
           floor((log2(cast(n_out as double)) - s / n_out)
                 * 1000000.0 + 0.5) / 1000000.0 as entropy_bits,
           m.nx as top_next,
           floor(cast(-m.neg as double) / n_out * 1000000.0 + 0.5)
             / 1000000.0 as top_share
    from agg
    """,
    doc="flow predictability (transition_entropy): Shannon entropy of "
    "each event type's next-event distribution + the modal next step "
    "and its share — 0 bits = deterministic funnel step, log2(fanout) "
    "= anything-goes browsing; the diagnostic read before trusting "
    "e18's first-order chain. Integer counts, d60 entropy-from-counts "
    "formula (integer-log terms DECIMAL(18,9)-rounded, order-free "
    "exact sums), modal ties to the smallest state. One lag window + "
    "one map-side (state,next) count; the rest runs on event-type² "
    "rows",
)
def e20(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import transition_entropy

    return transition_entropy(load(spark, sf, "events"))


@register(
    "c31_stream_transition_maintenance",
    """
    with o as (
      select user_id, event_type,
             lag(event_type) over (partition by user_id
                                   order by ts, event_id) as prev_event
      from events
    )
    select prev_event as state, event_type as next,
           cast(count(*) as bigint) as n_transitions
    from o where prev_event is not null
    group by state, next
    """,
    doc="streaming transition-matrix maintenance "
    "(stream_transition_counts_to_store): the e04 Markov counts kept "
    "current as events arrive in TWO time-ordered micro-batches — the "
    "part naive implementations get wrong is the BATCH BOUNDARY (a "
    "user's first event of batch 2 transitions from their last event "
    "of batch 1), fixed by a persisted per-user cursor store; counts "
    "commit first, cursors second, both batch-id idempotent (the c23 "
    "two-store convergence argument). The maintained counts must "
    "equal the one-shot e04 computation byte-for-byte. Per batch: one "
    "batch-sized lag window + a user-keyed boundary join + additive "
    "count upsert — history is never re-read",
)
def c31(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf
    import time as _time

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import (
        stream_transition_counts_to_store,
    )

    ev = load(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    cut = ev.agg(
        F.percentile(F.unix_micros(F.col("ts").cast("timestamp")), 0.5)
        .alias("c")
    ).collect()[0]["c"]

    tmp = _tf.mkdtemp(prefix="bds_c31_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    halves = (
        ("a", F.unix_micros(F.col("ts").cast("timestamp")) <= cut),
        ("b", F.unix_micros(F.col("ts").cast("timestamp")) > cut),
    )
    for tag, cond in halves:
        part_dir = _os.path.join(tmp, f"part_{tag}")
        ev.filter(cond).coalesce(1).write.parquet(part_dir)
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _time.sleep(0.01)  # mtime order = arrival order
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    counts = TableStore(tmp, "transition_counts", spark)
    counts.configure(unique_on=["state", "next"])
    cursors = TableStore(tmp, "user_cursors", spark)
    cursors.configure(unique_on="u")
    q = stream_transition_counts_to_store(
        stream, counts, cursors, f"{tmp}/_ckpt"
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return counts.read().select("state", "next", "n_transitions")


def _neardup_qa_sql() -> str:
    """d67 oracle: literal candidate pairs from the independent XXH64
    banding model; DuckDB runs the d49b canonical-order triangle +
    degree arithmetic on exactly that edge relation."""
    trips = pyoracle.minhash_pair_estimates(
        pyoracle.oracle_sf_dir(), threshold=0.5
    )
    if not trips:
        return (
            "select cast(null as bigint) as node, cast(null as bigint) "
            "as degree, cast(null as bigint) as n_triangles, cast(null "
            "as double) as clustering_coeff where false"
        )
    vals = ", ".join(f"({a}, {b})" for a, b, _e in trips)
    return f"""
    with e0 as (
      select least(id_a, id_b) as a, greatest(id_a, id_b) as b
      from (values {vals}) as p(id_a, id_b)
      group by 1, 2
    ), deg as (
      select node, cast(count(*) as bigint) as degree
      from (select a as node from e0 union all select b from e0)
      group by node
    ), t as (
      select e1.a as x, e1.b as y, e2.b as z
      from e0 e1
      join e0 e2 on e1.a = e2.a and e1.b < e2.b
      join e0 e3 on e3.a = e1.b and e3.b = e2.b
    ), pn as (
      select node, cast(count(*) as bigint) as n_triangles
      from (
        select x as node from t
        union all select y from t
        union all select z from t
      ) group by node
    )
    select d.node, d.degree, coalesce(pn.n_triangles, 0) as n_triangles,
           case when d.degree > 1 then
             floor(2.0 * coalesce(pn.n_triangles, 0)
                   / (d.degree * (d.degree - 1)) * 1000000.0 + 0.5)
               / 1000000.0
           else 0.0 end as clustering_coeff
    from deg d left join pn on pn.node = d.node
    """


@register(
    "d67_neardup_cluster_qa",
    _neardup_qa_sql,
    doc="dedup-cluster QA on the REAL near-dup graph "
    "(minhash_near_dup_pairs at threshold 0.5 → "
    "clustering_coefficient): the near-clique test the d49/d49b "
    "docstrings promise, applied where it matters — every candidate "
    "doc's degree, triangle count and local coefficient over the LSH "
    "candidate graph, so a keep-one collapse can tell a true "
    "duplicate GROUP (coefficient → 1) from a chain of borderline "
    "threshold artifacts (coefficient → 0) BEFORE trusting the "
    "clusters. Same degree-oriented compact-forward core as d49; "
    "pairs as literals from the independent banding model, triangle "
    "arithmetic replayed canonically in SQL",
)
def d67(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import (
        minhash_near_dup_pairs,
        release_signature_caches,
    )
    from basis_devkit_spark.operators.graphrank import (
        clustering_coefficient,
    )

    docs = load(spark, sf, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16,
        jaccard_threshold=0.5,
    )
    out = clustering_coefficient(pairs.select("id_a", "id_b"))
    ck = out.localCheckpoint(eager=True)
    release_signature_caches(out)
    release_signature_caches(pairs)
    return ck.select("node", "degree", "n_triangles", "clustering_coeff")


# -------------------- r13 additions: URL canonicalization, paragraph
# dedup, encoding & script signals, bot periodicity

# d75 synthetic URL wheel: scheme case, default/non-default ports,
# userinfo, tracking params, unsorted params, trailing slashes/dots,
# fragments, junk - the same literal CASE on both engines.
_CANON_BASE_SQL = (
    "'w' || cast(doc_id % 3 as varchar) || '.' || lower(source) || '.com'"
)
_CANON_URL_CASE_SQL = f"""
      case (doc_id % 8)
        when 0 then 'https://www.' || {_CANON_BASE_SQL}
                    || '/a/b/?b=2&utm_source=x&a=1#frag'
        when 1 then 'HTTP://' || {_CANON_BASE_SQL} || ':80/index.html?gclid=123'
        when 2 then 'https://' || {_CANON_BASE_SQL} || ':8443/path/'
        when 3 then 'https://user:pw@' || {_CANON_BASE_SQL}
                    || '/x%20y?z=1&y=2&x=3'
        when 4 then 'https://' || {_CANON_BASE_SQL} || '.'
        when 5 then 'junk url'
        when 6 then 'https://' || {_CANON_BASE_SQL} || '/a//b///'
        else 'ftp://' || {_CANON_BASE_SQL} || ':21/file.txt'
      end
"""

from basis_devkit_spark.operators.domains import (  # noqa: E402
    TRACKING_PARAM_RE as _TPRE,
)


@register(
    "d75_canonical_url",
    f"""
    with u as (
      select doc_id, {_CANON_URL_CASE_SQL} as url from documents
    ), p as (
      select doc_id, url,
        lower(nullif(regexp_extract(url,
          '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) as scheme,
        nullif(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), '') as authority
      from u
    ), q as (
      select *, regexp_replace(authority, '^.*@', '') as hostport from p
    ), r as (
      select *,
        regexp_replace(lower(regexp_replace(regexp_replace(hostport,
          ':[0-9]+$', ''), '\\.$', '')), '^www\\.', '') as host,
        regexp_extract(hostport, ':([0-9]+)$', 1) as port,
        regexp_replace(regexp_extract(url,
          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
          '/+$', '') as path,
        regexp_extract(url, '\\?([^#]*)', 1) as qs
      from q
    ), s as (
      select *, list_sort(list_filter(string_split(qs, '&'),
        x -> x <> '' and not regexp_matches(x, '{_TPRE}'))) as params
      from r
    )
    select doc_id, url,
      case when scheme is not null and host is not null and host <> ''
        then scheme || '://' || host
          || (case when port <> ''
                    and not ((scheme = 'http' and port = '80')
                             or (scheme = 'https' and port = '443'))
               then ':' || port else '' end)
          || path
          || (case when len(params) > 0
               then '?' || array_to_string(params, '&') else '' end)
      end as canonical_url
    from s
    """,
    doc="URL canonicalization for crawl dedup (canonical_url): "
    "lowercase scheme/host, strip userinfo, default ports, fragments, "
    "trailing slashes/dots, the www. prefix and tracking params "
    "(utm_*, gclid, fbclid, ...); surviving params byte-sorted. Junk "
    "stays NULL. Pure regexp+array projection - the SAME "
    "RE2-compatible regexps run verbatim on both engines (no JVM URL "
    "parser: the parse must be engine-identical char-for-char). The "
    "wheel exercises scheme case, both default ports, a non-default "
    "port, userinfo, unsorted+tracking params, trailing-dot hosts, "
    "multi-slash paths and junk",
)
def d75(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.domains import canonical_url

    base = F.concat(
        F.lit("w"), (F.col("doc_id") % 3).cast("string"), F.lit("."),
        F.lower("source"), F.lit(".com"),
    )
    wheel = [
        F.concat(F.lit("https://www."), base,
                 F.lit("/a/b/?b=2&utm_source=x&a=1#frag")),
        F.concat(F.lit("HTTP://"), base, F.lit(":80/index.html?gclid=123")),
        F.concat(F.lit("https://"), base, F.lit(":8443/path/")),
        F.concat(F.lit("https://user:pw@"), base,
                 F.lit("/x%20y?z=1&y=2&x=3")),
        F.concat(F.lit("https://"), base, F.lit(".")),
        F.lit("junk url"),
        F.concat(F.lit("https://"), base, F.lit("/a//b///")),
        F.concat(F.lit("ftp://"), base, F.lit(":21/file.txt")),
    ]
    url = F.element_at(F.array(*wheel), (F.col("doc_id") % 8 + 1).cast("int"))
    docs = load(spark, sf, "documents").withColumn("url", url)
    return canonical_url(docs.select("doc_id", "url"), "url").select(
        "doc_id", "url", "canonical_url"
    )


@register(
    "d76_paragraph_dedup",
    r"""
    with src as (
      select doc_id,
             'Shared cookie notice.' || chr(10) || chr(10)
             || replace(coalesce(text, ''), '. ',
                        '.' || chr(10) || chr(10))
             || chr(10) || chr(10) || 'All rights reserved worldwide.'
               as text
      from documents
    ), base as (
      select doc_id, regexp_split_to_array(text, '\n{2,}') as ps from src
    ), ex0 as (
      select doc_id, z[1] as p, z[2] as pos
      from (
        select doc_id,
               unnest(list_zip(ps, generate_series(1, len(ps)))) as z
        from base
      )
    ), ex as (
      select doc_id, p, pos,
             regexp_replace(lower(trim(p)), '\s+', ' ', 'g') as norm
      from ex0
      where regexp_replace(lower(trim(p)), '\s+', ' ', 'g') <> ''
    ), freq as (
      select norm from ex group by norm
      having count(distinct doc_id) >= 2
    ), k as (
      select ex.doc_id, ex.p, ex.pos,
             (freq.norm is not null) as rm
      from ex left join freq using (norm)
    ), agg as (
      select doc_id,
             cast(count(*) as int) as n_paragraphs,
             cast(sum(case when rm then 1 else 0 end) as int) as n_removed,
             coalesce(string_agg(case when not rm then p end,
                                 chr(10) || chr(10) order by pos), '')
               as text_clean
      from k group by doc_id
    )
    select d.doc_id, coalesce(agg.text_clean, '') as text_clean,
           coalesce(agg.n_paragraphs, 0) as n_paragraphs,
           coalesce(agg.n_removed, 0) as n_removed
    from documents d left join agg using (doc_id)
    """,
    doc="corpus-wide duplicated-paragraph removal (paragraph_dedup; "
    "RefinedWeb/Falcon span dedup at paragraph granularity): a "
    "normalized paragraph appearing in >= 2 distinct docs is "
    "boilerplate and is dropped from EVERY doc, survivors reassembled "
    "in original order (injected cookie/rights boilerplate must "
    "vanish from all docs; sentence-split bodies dedup only where "
    "genuinely repeated). posexplode -> hash count (map-side "
    "combinable, grouped on xxhash64 of the norm, never the text) -> "
    "equi-join back -> per-doc array_sort reassembly; no windows, no "
    "broadcast of the unbounded frequent set. Differs from d13 "
    "repeated-line removal (within-doc)",
)
def d76(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import paragraph_dedup

    nl2 = "\n\n"
    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Shared cookie notice." + nl2),
            F.replace(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(". "), F.lit("." + nl2),
            ),
            F.lit(nl2 + "All rights reserved worldwide."),
        ).alias("text"),
    )
    return paragraph_dedup(docs, "doc_id", "text", min_docs=2)


_ENC_BAD_SQL = (
    "cast(len(regexp_extract_all(text, '\\x{FFFD}'))"
    " + len(regexp_extract_all(text,"
    " '[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]'))"
    " + len(regexp_extract_all(text, '[\\x{0080}-\\x{009F}]'))"
    " + len(regexp_extract_all(text,"
    " '[\\x{00C2}\\x{00C3}\\x{00E2}]"
    "[\\x{0080}-\\x{00BF}\\x{20AC}\\x{2122}\\x{201C}\\x{2019}]'))"
    " as double)"
)


@register(
    "d77_encoding_signals",
    f"""
    with src as (
      select doc_id,
        case (doc_id % 4)
          when 0 then coalesce(text, '')
          when 1 then coalesce(text, '')
                      || ' caf' || chr(195) || chr(169) || ' clich'
                      || chr(195) || chr(169)
          when 2 then coalesce(text, '') || ' bad'
                      || chr(65533) || 'byte' || chr(7) || chr(1)
          else coalesce(text, '') || ' smart'
               || chr(226) || chr(8364) || chr(8482) || 'quote'
               || chr(194) || chr(160)
        end as text
      from documents
    )
    select doc_id,
      cast(len(regexp_extract_all(text, '\\x{{FFFD}}')) as int)
        as n_replacement,
      cast(len(regexp_extract_all(text,
        '[\\x{{0000}}-\\x{{0008}}\\x{{000B}}\\x{{000C}}\\x{{000E}}-\\x{{001F}}]'))
        as int) as n_c0_control,
      cast(len(regexp_extract_all(text, '[\\x{{0080}}-\\x{{009F}}]')) as int)
        as n_c1_control,
      cast(len(regexp_extract_all(text,
        '[\\x{{00C2}}\\x{{00C3}}\\x{{00E2}}][\\x{{0080}}-\\x{{00BF}}\\x{{20AC}}\\x{{2122}}\\x{{201C}}\\x{{2019}}]'))
        as int) as n_mojibake_marks,
      case when len(text) > 0 then
        floor({_ENC_BAD_SQL} / len(text) * 1000000.0 + 0.5) / 1000000.0
        else 0.0 end as mojibake_ratio,
      cast(case when len(text) > 0 then
        (floor({_ENC_BAD_SQL} / len(text) * 1000000.0 + 0.5) / 1000000.0)
          > 0.001
        else false end as int) as is_suspect
    from src
    """,
    doc="encoding-quality signals (encoding_signals): U+FFFD "
    "replacement chars, C0 controls (minus tab/NL/CR), the C1 "
    "latin-1/cp1252 confusion band, and UTF-8-read-as-latin-1 "
    "mojibake digraphs (A-tilde/A-circ/a-circ + continuation or "
    "cp1252 euro/TM/quote pair) - the cheap pre-filter for text that "
    "survived a wrong charset. All patterns are \\x{{hhhh}} code-point "
    "escapes parsed identically by Java regex and RE2, shared "
    "VERBATIM with the oracle; the wheel injects clean text, real "
    "French-accent mojibake, binary junk and cp1252 smart quotes",
)
def d77(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import encoding_signals

    t = F.coalesce(F.col("text"), F.lit(""))
    moji = " cafÃ© clichÃ©"
    junk = " bad�byte"
    smart = " smartâ€™quoteÂ "
    wheel = F.element_at(
        F.array(
            t,
            F.concat(t, F.lit(moji)),
            F.concat(t, F.lit(junk)),
            F.concat(t, F.lit(smart)),
        ),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    docs = load(spark, sf, "documents").select(
        "doc_id", wheel.alias("text")
    )
    out = encoding_signals(docs, "text")
    return out.select(
        "doc_id", "n_replacement", "n_c0_control", "n_c1_control",
        "n_mojibake_marks", "mojibake_ratio", "is_suspect",
    )


@register(
    "d78_script_profile",
    r"""
    with src as (
      select doc_id,
        case (doc_id % 5)
          when 0 then coalesce(text, '')
          when 1 then coalesce(text, '') || ' '
                      || chr(1055) || chr(1088) || chr(1080) || chr(1074)
                      || chr(1077) || chr(1090)
          when 2 then chr(20320) || chr(22909) || chr(19990) || chr(30028)
                      || chr(12371) || chr(12435)
          when 3 then chr(44608) || chr(52824) || ' ' || chr(1606)
                      || chr(1589) || chr(1617)
          else '12345 67890'
        end as text
      from documents
    ), c as (
      select doc_id, text,
        cast(len(regexp_extract_all(text, '[A-Za-z\x{00C0}-\x{024F}]')) as int) as n_latin,
        cast(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) as int) as n_cyrillic,
        cast(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]')) as int) as n_greek,
        cast(len(regexp_extract_all(text, '[\x{0590}-\x{05FF}]')) as int) as n_hebrew,
        cast(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) as int) as n_arabic,
        cast(len(regexp_extract_all(text, '[\x{0900}-\x{097F}]')) as int) as n_devanagari,
        cast(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}\x{3400}-\x{4DBF}]')) as int) as n_han,
        cast(len(regexp_extract_all(text, '[\x{3040}-\x{309F}\x{30A0}-\x{30FF}]')) as int) as n_kana,
        cast(len(regexp_extract_all(text, '[\x{AC00}-\x{D7AF}\x{1100}-\x{11FF}]')) as int) as n_hangul,
        cast(len(regexp_extract_all(text, '[0-9]')) as int) as n_digit,
        cast(len(text) as int) as n_chars_total
      from src
    ), m as (
      select *,
        greatest(n_arabic, n_cyrillic, n_devanagari, n_greek, n_han,
                 n_hangul, n_hebrew, n_kana, n_latin) as best_c
      from c
    ), s2 as (
      select *,
        case when best_c = 0 then 'other'
             when n_arabic = best_c then 'arabic'
             when n_cyrillic = best_c then 'cyrillic'
             when n_devanagari = best_c then 'devanagari'
             when n_greek = best_c then 'greek'
             when n_han = best_c then 'han'
             when n_hangul = best_c then 'hangul'
             when n_hebrew = best_c then 'hebrew'
             when n_kana = best_c then 'kana'
             else 'latin' end as script
      from m
    )
    select doc_id, n_latin, n_cyrillic, n_greek, n_hebrew, n_arabic,
           n_devanagari, n_han, n_kana, n_hangul, n_digit, n_chars_total,
           script,
           case when best_c > 0 and n_chars_total > 0 then
             floor(cast(best_c as double) / n_chars_total * 1000000.0
                   + 0.5) / 1000000.0
             else 0.0 end as script_frac
    from s2
    """,
    doc="Dominant-script routing signal (dominant_script, the argmax "
    "companion to d47 script_profile fractions): per-script char "
    "counts over BMP ranges (latin/cyrillic/greek/hebrew/arabic/"
    "devanagari/han/kana/hangul/digit - public Unicode block data as "
    "\\x{hhhh} escapes shared verbatim), dominant script via "
    "struct-max argmax (alphabetical tie-break) and its 1e6-floored "
    "fraction - the script-level routing signal multilingual curation "
    "applies before any model. The wheel mixes pure-ASCII docs, "
    "Cyrillic suffixes, Han+Kana, Hangul+Arabic and digit-only text",
)
def d78(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import dominant_script

    t = F.coalesce(F.col("text"), F.lit(""))
    ru = " Привет"
    cjk = "你好世界こん"
    mixed = "김차 نصّ"
    wheel = F.element_at(
        F.array(
            t,
            F.concat(t, F.lit(ru)),
            F.lit(cjk),
            F.lit(mixed),
            F.lit("12345 67890"),
        ),
        (F.col("doc_id") % 5 + 1).cast("int"),
    )
    docs = load(spark, sf, "documents").select(
        "doc_id", wheel.alias("text")
    )
    return dominant_script(docs, "text").select(
        "doc_id", "n_latin", "n_cyrillic", "n_greek", "n_hebrew",
        "n_arabic", "n_devanagari", "n_han", "n_kana", "n_hangul",
        "n_digit", "n_chars_total", "script", "script_frac",
    )


@register(
    "e21_periodicity_signals",
    """
    with g as (
      select user_id,
             epoch_us(cast(ts as timestamp))
               - lag(epoch_us(cast(ts as timestamp))) over (
                   partition by user_id order by ts, event_id) as gap
      from events
    ), a as (
      select user_id,
             cast(count(*) as bigint) as n_events,
             cast(count(gap) as bigint) as n_gaps,
             sum(cast(gap as hugeint)) as s1,
             sum(cast(gap as hugeint) * cast(gap as hugeint)) as s2
      from g group by user_id
    ), v as (
      select user_id, n_events, n_gaps,
             cast(s1 as double) / n_gaps as m,
             case when cast(n_gaps as double) * cast(s2 as double) < 1e37
                   and cast(s1 as double) * cast(s1 as double) < 1e37
               then sqrt(cast(n_gaps * s2 - s1 * s1 as double)
                         / (n_gaps * (n_gaps - 1))) end as s
      from a
    )
    select user_id, n_events, n_gaps,
      case when n_gaps >= 1
        then floor(m * 1000000.0 + 0.5) / 1000000.0 end as mean_gap_us,
      case when n_gaps >= 2
        then floor(s * 1000000.0 + 0.5) / 1000000.0 end as std_gap_us,
      case when n_gaps >= 2 and m > 0
        then floor(s / m * 1000000.0 + 0.5) / 1000000.0 end as cv_gap,
      cast(coalesce(n_events >= 6 and
        (case when n_gaps >= 2 and m > 0
          then floor(s / m * 1000000.0 + 0.5) / 1000000.0 end) < 0.1,
        false) as int) as is_regular
    from v
    """,
    doc="bot/automation periodicity signals (periodicity_signals): "
    "per-user inter-event-gap mean/stddev and coefficient of "
    "variation - cron is metronomic (cv near 0), Poisson is cv = 1, "
    "humans sit above; the is_regular flag keeps synthetic traffic "
    "out of behavioral corpora (the e12 SRM companion). One lag "
    "window per user + one hash agg; exact integer microsecond gaps, "
    "b23 stddev-parity contract, 1e6 floor-scaling, explicit NULLs "
    "for short/zero-variance users",
)
def e21(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import periodicity_signals

    ev = load(spark, sf, "events").select("user_id", "ts", "event_id")
    return periodicity_signals(ev, "user_id", "ts", "event_id")


@register(
    "c33_stream_domain_profile_maintenance",
    f"""
    with q as (
      select doc_id, source, {_QUALITY_EXPR} as quality_score,
             strlen(coalesce(text, '')) as nb
      from ({_STATS_SQL})
    ), u as (
      select doc_id, quality_score, nb, {_SYNTH_URL_SQL} as url from q
    ), {_DOMAIN_SQL}
    select domain,
           cast(count(*) as bigint) as n_docs,
           cast(sum(nb) as bigint) as n_bytes,
           floor(sum(cast(quality_score as decimal(18,6)))
                 / count(*) * 1000000.0 + 0.5) / 1000000.0
             as mean_quality,
           min(doc_id) as min_doc_id, max(doc_id) as max_doc_id
    from dom where domain is not null
    group by domain
    """,
    doc="streaming per-domain profile maintenance: the corpus arrives "
    "as TWO micro-batches; each batch folds its per-domain partial "
    "state (doc count, byte sum, DECIMAL(18,6) quality sum, id "
    "min/max - every piece mergeable by SUM/MIN/MAX) into a persisted "
    "domain store via the exactly-once merge sink, and the report "
    "read from the maintained state must equal the one-shot d57 "
    "profile BYTE-FOR-BYTE (same oracle). The r12-verdict task #6 "
    "companion to c32: the domain mix monitor a streaming crawl "
    "ingest prints per commit without re-reading history",
)
def c33(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.domains import registrable_domain
    from basis_devkit_spark.operators.text import quality_score
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    d0 = load(spark, sf, "documents").select("doc_id", "source", "text")

    tmp = _tf.mkdtemp(prefix="bds_c33_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        d0.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def _state(batch: DataFrame) -> DataFrame:
        b = quality_score(batch, "text").withColumn("url", _synth_url_col())
        dom = registrable_domain(b, "url").filter(
            F.col("domain").isNotNull()
        )
        return dom.groupBy("domain").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.octet_length(F.coalesce(F.col("text"), F.lit("")))
            ).cast("long").alias("n_bytes"),
            F.sum(F.col("quality_score").cast("decimal(18,6)"))
            .cast("decimal(18,6)").alias("qsum"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        state = _state(batch)
        if existing is None:
            return state
        prev = existing.select(
            "domain", F.col("n_docs").alias("__pd"),
            F.col("n_bytes").alias("__pb"), F.col("qsum").alias("__pq"),
            F.col("min_doc_id").alias("__pmin"),
            F.col("max_doc_id").alias("__pmax"),
        )
        return state.join(prev, "domain", "full").select(
            "domain",
            (
                F.coalesce(F.col("n_docs"), F.lit(0))
                + F.coalesce(F.col("__pd"), F.lit(0))
            ).cast("long").alias("n_docs"),
            (
                F.coalesce(F.col("n_bytes"), F.lit(0))
                + F.coalesce(F.col("__pb"), F.lit(0))
            ).cast("long").alias("n_bytes"),
            (
                F.coalesce(F.col("qsum"), F.lit(0).cast("decimal(18,6)"))
                + F.coalesce(F.col("__pq"), F.lit(0).cast("decimal(18,6)"))
            ).cast("decimal(18,6)").alias("qsum"),
            F.least(
                F.coalesce("min_doc_id", "__pmin"),
                F.coalesce("__pmin", "min_doc_id"),
            ).alias("min_doc_id"),
            F.greatest(
                F.coalesce("max_doc_id", "__pmax"),
                F.coalesce("__pmax", "max_doc_id"),
            ).alias("max_doc_id"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "domain_profile", spark)
    store.configure(unique_on="domain")
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    st = store.read()
    return st.select(
        "domain", "n_docs", "n_bytes",
        (
            F.floor(
                F.col("qsum").cast("double")
                / F.col("n_docs").cast("double") * 1000000.0 + 0.5
            ) / 1000000.0
        ).alias("mean_quality"),
        "min_doc_id", "max_doc_id",
    )


@register(
    "d79_matryoshka_truncation_recall",
    """
    with qs as (
      select vec_id, embedding from embeddings where vec_id < 30
    ), ex_scored as (
      select q.vec_id as query_id, c.vec_id as match_id,
             round(list_cosine_similarity(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(c.embedding, x -> cast(x as double))), 4)
               as score
      from qs q join embeddings c on q.vec_id != c.vec_id
    ), ex as (
      select query_id, match_id from (
        select query_id, match_id,
               row_number() over (partition by query_id
                                  order by score desc, match_id) as rank
        from ex_scored
      ) where rank <= 5
    ), tr_scored as (
      select q.vec_id as query_id, c.vec_id as match_id,
             round(list_cosine_similarity(
               list_transform(q.embedding[1:16], x -> cast(x as double)),
               list_transform(c.embedding[1:16], x -> cast(x as double))),
               4) as score
      from qs q join embeddings c on q.vec_id != c.vec_id
    ), tr as (
      select query_id, match_id from (
        select query_id, match_id,
               row_number() over (partition by query_id
                                  order by score desc, match_id) as rank
        from tr_scored
      ) where rank <= 5
    ), j as (
      select e.query_id, (t.match_id is not null) as hit
      from ex e left join tr t
        on t.query_id = e.query_id and t.match_id = e.match_id
    )
    select query_id,
           cast(count(*) as bigint) as n_truth,
           cast(sum(case when hit then 1 else 0 end) as bigint) as n_hit,
           floor(sum(case when hit then 1 else 0 end) * 1.0 / count(*)
                 * 1000000.0 + 0.5) / 1000000.0 as recall
    from j group by query_id
    """,
    doc="Matryoshka-style dimension-truncation eval (Kusupati et al. "
    "2022, public): recall@5 of exact cosine top-k computed on the "
    "FIRST 16 of 64 embedding dims against the full-dim exact top-k "
    "- the measurement behind the store-prefixes-serve-cheap "
    "trade-off (truncate at ingest, rerank on full dims only for "
    "survivors). Pure composition of proven verbs: slice -> "
    "brute_force_topk on both widths -> topk_recall (LEFT join, "
    "missed queries report 0.0). Both sides 4dp round-before-rank, "
    "match_id tie-break; oracle recomputes both sides with list "
    "slicing in SQL",
)
def d79(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        topk_recall,
    )

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    exact = brute_force_topk(q, emb, k=5, score_round=4)
    sl = lambda df: df.withColumn(
        "embedding", F.slice("embedding", 1, 16)
    )
    trunc = brute_force_topk(sl(q), sl(emb), k=5, score_round=4)
    return topk_recall(trunc, exact)


@register(
    "d80_snapshot_novelty",
    r"""
    with src as (
      select doc_id,
             'Shared cookie notice.' || chr(10) || chr(10)
             || replace(coalesce(text, ''), '. ',
                        '.' || chr(10) || chr(10))
               as text
      from documents
    ), base as (
      select doc_id, regexp_split_to_array(text, '\n{2,}') as ps from src
    ), ex as (
      select doc_id,
             regexp_replace(lower(trim(unnest(ps))), '\s+', ' ', 'g')
               as norm
      from base
    ), exf as (
      select doc_id, norm from ex where norm <> ''
    ), old_h as (
      select distinct norm from exf where doc_id % 2 = 0
    ), per as (
      select e.doc_id,
             cast(count(*) as bigint) as n_paragraphs,
             cast(sum(case when o.norm is not null then 1 else 0 end)
                  as bigint) as n_seen
      from exf e left join old_h o on o.norm = e.norm
      where e.doc_id % 2 = 1
      group by e.doc_id
    )
    select d.doc_id,
           coalesce(per.n_paragraphs, 0) as n_paragraphs,
           coalesce(per.n_seen, 0) as n_seen,
           case when per.n_paragraphs > 0 then
             floor((per.n_paragraphs - per.n_seen) * 1.0
                   / per.n_paragraphs * 1000000.0 + 0.5) / 1000000.0
           end as novelty
    from (select doc_id from documents where doc_id % 2 = 1) d
    left join per on per.doc_id = d.doc_id
    """,
    doc="cross-snapshot novelty report (snapshot_novelty): per NEW doc "
    "(odd ids = the incoming dump), the fraction of its normalized "
    "paragraphs NOT already in the previous snapshot (even ids) - the "
    "dedup-planning pass run before paying ingest for a re-crawl; the "
    "injected cookie banner is 'seen' for every doc by construction. "
    "Both sides explode to paragraph HASHES (the old snapshot never "
    "moves text, only 8-byte hashes), one distinct + hash equi-join "
    "(never broadcast - the old snapshot is unbounded) + one per-doc "
    "aggregate; reuses the d76 normalization verbatim so novelty and "
    "dedup agree on 'the same paragraph'",
)
def d80(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import snapshot_novelty

    nl2 = "\n\n"
    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Shared cookie notice." + nl2),
            F.replace(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(". "), F.lit("." + nl2),
            ),
        ).alias("text"),
    )
    new = docs.filter(F.col("doc_id") % 2 == 1)
    old = docs.filter(F.col("doc_id") % 2 == 0)
    return snapshot_novelty(new, old, "doc_id", "text")


def _group_split_sql() -> str:
    """d81 oracle: literal (source, split) table from the independent
    Python XXH64 model (pyoracle.group_split_assignments), joined back
    onto the documents — the d24-pattern literal-table oracle, since
    DuckDB has no Spark-compatible xxhash64."""
    rows = pyoracle.group_split_assignments(pyoracle.oracle_sf_dir())
    vals = ", ".join(f"('{s}', '{sp}')" for s, sp in rows)
    return f"""
    with assign(source, split) as (select * from (values {vals}))
    select d.doc_id, d.source, a.split
    from documents d join assign a using (source)
    """


@register(
    "d81_group_split",
    _group_split_sql,
    doc="leakage-safe deterministic train/val/test split BY GROUP "
    "(group_split): every doc of a source lands in the SAME split - "
    "splitting near-identical docs across train and eval leaks the "
    "eval set (GroupShuffleSplit discipline at corpus scale, applied "
    "to domains / dedup clusters). Assignment is a pure function of "
    "the group value (pmod(xxhash64(group), 1e6) vs cumulative weight "
    "thresholds): no RNG, reproducible across runs/engines/cluster "
    "sizes, new docs never move a group. Pure projection - the split "
    "of a 100 TB corpus costs one column. Oracle = the d24-pattern "
    "literal table from the independent public-spec XXH64 model",
)
def d81(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import group_split

    docs = load(spark, sf, "documents").select("doc_id", "source")
    return group_split(docs, "source").select("doc_id", "source", "split")


@register(
    "c34_stream_novelty_gate",
    r"""
    with src as (
      select doc_id,
             'Shared cookie notice.' || chr(10) || chr(10)
             || replace(coalesce(text, ''), '. ',
                        '.' || chr(10) || chr(10))
               as text
      from documents
    ), base as (
      select doc_id, regexp_split_to_array(text, '\n{2,}') as ps from src
    ), ex as (
      select doc_id,
             regexp_replace(lower(trim(unnest(ps))), '\s+', ' ', 'g')
               as norm
      from base
    ), exf as (
      select doc_id, norm from ex where norm <> ''
    ), old_h as (
      select distinct norm from exf where doc_id % 2 = 0
    ), per_new as (
      select e.doc_id,
             cast(count(*) as bigint) as n_paragraphs,
             cast(sum(case when o.norm is not null then 1 else 0 end)
                  as bigint) as n_seen
      from exf e left join old_h o on o.norm = e.norm
      where e.doc_id % 2 = 1
      group by e.doc_id
    ), per_old as (   -- batch 1 scored against the EMPTY store
      select doc_id, cast(count(*) as bigint) as n_paragraphs,
             cast(0 as bigint) as n_seen
      from exf where doc_id % 2 = 0 group by doc_id
    ), per as (
      select * from per_new union all select * from per_old
    )
    select d.doc_id,
           coalesce(per.n_paragraphs, 0) as n_paragraphs,
           coalesce(per.n_seen, 0) as n_seen,
           case when per.n_paragraphs > 0 then
             floor((per.n_paragraphs - per.n_seen) * 1.0
                   / per.n_paragraphs * 1000000.0 + 0.5) / 1000000.0
           end as novelty
    from documents d left join per on per.doc_id = d.doc_id
    """,
    doc="streaming novelty-gated ingest (c34): every incoming dump "
    "batch is scored against the maintained paragraph-hash store of "
    "everything ingested BEFORE it - the d80 report kept current at "
    "batch cost, flagging re-crawls at the door. Two batches (even "
    "docs then odd docs): batch 1 scores against the empty store "
    "(fully novel by construction), batch 2 must equal the one-shot "
    "d80 report byte-for-byte. Two-store commit (report first, keyed "
    "on doc_id; hashes second, keyed on the 8-byte hash) converges on "
    "crash replay - the c23/c31 contract; state is hashes only, "
    "never text",
)
def c34(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf
    import time as _time

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import (
        stream_novelty_gate_to_store,
    )

    nl2 = "\n\n"
    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.lit("Shared cookie notice." + nl2),
            F.replace(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(". "), F.lit("." + nl2),
            ),
        ).alias("text"),
    )

    tmp = _tf.mkdtemp(prefix="bds_c34_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        docs.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _time.sleep(0.01)  # mtime order = arrival order
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    reports = TableStore(tmp, "novelty_reports", spark)
    reports.configure(unique_on="doc_id")
    hashes = TableStore(tmp, "para_hashes", spark)
    hashes.configure(unique_on="para_hash")
    q = stream_novelty_gate_to_store(
        stream, reports, hashes, f"{tmp}/_ckpt"
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return reports.read().select(
        "doc_id", "n_paragraphs", "n_seen", "novelty"
    )


def _ogg_hex(version=0, nsegs=1, packet=b"", pad_segs=True):
    seg_table = bytes([len(packet)] + [0] * (nsegs - 1)) if pad_segs else b""
    page = (
        b"OggS" + bytes([version, 0x02]) + b"\x00" * 8
        + b"\x01\x00\x00\x00" + b"\x00" * 4 + b"\x00" * 4
        + bytes([nsegs]) + seg_table
    )
    return (page + packet).hex()


def _opus_head(channels=2, pre_skip=312, rate=48000, mapping=0):
    import struct as _st

    return (
        b"OpusHead" + bytes([1, channels]) + _st.pack("<H", pre_skip)
        + _st.pack("<I", rate) + _st.pack("<h", 0) + bytes([mapping])
    )


# (hex, is_ogg, is_opus, version, channels, pre_skip, rate, mapping)
_OGG_FIXTURES = [
    (_ogg_hex(packet=_opus_head()), True, True, 1, 2, 312, 48000, 0),
    (_ogg_hex(nsegs=3, packet=_opus_head(channels=1, pre_skip=0,
                                         rate=16000)),
     True, True, 1, 1, 0, 16000, 0),
    (_ogg_hex(packet=b"\x01vorbis" + b"\x00" * 12), True, False,
     None, None, None, None, None),
    ("00010203", False, False, None, None, None, None, None),
    (_ogg_hex(version=1, packet=_opus_head()), False, False,
     None, None, None, None, None),
    (_ogg_hex(packet=_opus_head(channels=6, rate=44100, mapping=1)),
     True, True, 1, 6, 312, 44100, 1),
]


@register(
    "d05i_ogg_opus_parse",
    f"""
    with blobs as (
      select doc_id, doc_id % 6 as variant from documents
    ), truth as (
      select * from (values
        {", ".join(
            "({i}, {og}, {op}, {v}, {ch}, {ps}, {r}, {m})".format(
                i=i,
                og="true" if og else "false",
                op="true" if op else "false",
                v=v if v is not None else "cast(null as int)",
                ch=ch if ch is not None else "cast(null as int)",
                ps=ps if ps is not None else "cast(null as int)",
                r=r if r is not None else "cast(null as bigint)",
                m=m if m is not None else "cast(null as int)",
            )
            for i, (_, og, op, v, ch, ps, r, m)
            in enumerate(_OGG_FIXTURES)
        )}
      ) as t(variant, is_ogg, is_opus, opus_version, channels, pre_skip,
             input_sample_rate, mapping_family)
    )
    select b.doc_id, t.is_ogg, t.is_opus,
           cast(t.opus_version as int) as opus_version,
           cast(t.channels as int) as channels,
           cast(t.pre_skip as int) as pre_skip,
           cast(t.input_sample_rate as bigint) as input_sample_rate,
           cast(t.mapping_family as int) as mapping_family
    from blobs b join truth t on b.variant = t.variant
    """,
    doc="decode-free Ogg/Opus sniff (RFC 3533 + RFC 7845, public): "
    "OggS capture pattern + page version gate, first packet located "
    "by the SEGMENT-TABLE LENGTH (computed offset, never a scan), "
    "OpusHead identification header parsed as pure hex-slice + LE "
    "reassembly - version/channels/pre-skip/input-rate/mapping "
    "family, O(1) bytes per row. Variants: stereo 48k, mono 16k with "
    "a 3-entry segment table, an Ogg/VORBIS stream (is_ogg without "
    "is_opus), junk, a bad page version, and a 6-channel mapping-"
    "family-1 surround head. Oracle derives truth from the "
    "construction table, independently checking the byte surgery",
)
def d05i(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import ogg_opus_fields

    d = load(spark, sf, "documents").select("doc_id")
    hdr = None
    for i, (hx, *_rest) in enumerate(_OGG_FIXTURES):
        cond = F.col("doc_id") % 6 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn("content", hdr)
    s = ogg_opus_fields("content")
    return blobs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


@register(
    "e22_cusum_changepoints",
    """
    with b as (
      select user_id, event_id, ts, value,
             cast(floor(value * 1000000.0 + 0.5) as bigint) as v
      from events
    ), p as (
      select user_id, event_id, ts, value, v,
             sum(coalesce(v - 50000000 - 5000000, 0)) over w as ppos,
             sum(coalesce(50000000 - v - 5000000, 0)) over w as pneg
      from b
      window w as (partition by user_id order by ts, event_id
                   rows between unbounded preceding and current row)
    ), s as (
      select user_id, event_id, ts, value, v,
             ppos - least(0, min(ppos) over w) as spos,
             pneg - least(0, min(pneg) over w) as sneg
      from p
      window w as (partition by user_id order by ts, event_id
                   rows between unbounded preceding and current row)
    )
    select user_id, event_id, ts, value,
      case when v is not null then spos / 1000000.0 end as cusum_pos,
      case when v is not null then sneg / 1000000.0 end as cusum_neg,
      cast(coalesce(v is not null
                    and (spos > 300000000 or sneg > 300000000),
                    false) as int) as is_alarm
    from s
    """,
    doc="two-sided CUSUM level-shift chart (cusum_changepoints, Page "
    "1954 SPC): per user-series, the classic "
    "max(0, S + (x - target - slack)) drift statistic both ways, "
    "alarming when either side crosses the threshold - catches a "
    "sustained mean shift that e09's fixed z-window smears and e17's "
    "EWMA forgets. The max-recursion runs as its exact closed form "
    "S_t = P_t - min(0, min prefix P): two running windows over ONE "
    "per-series partitioning, no iteration. Exact integer micro-unit "
    "arithmetic end-to-end (floor(x*1e6+0.5) in, integer sums/mins/"
    "threshold compare, exact int-to-double out) - bit-identical "
    "cross-engine by construction; NULL values contribute zero delta "
    "and never alarm. target=50, slack=5, threshold=300",
)
def e22(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.timeseries import (
        cusum_changepoints,
    )

    ev = load(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    return cusum_changepoints(
        ev,
        value_col="value",
        group_col="user_id",
        ts_col="ts",
        id_col="event_id",
        target=50.0,
        slack=5.0,
        threshold=300.0,
    )


@register(
    "d82_source_overlap_matrix",
    pyoracle.source_overlap_sql,
    doc="corpus-level cross-source overlap matrix "
    "(source_overlap_matrix): MinHash-estimated Jaccard of the UNION "
    "shingle sets for every source pair - 'how much of crawl B is "
    "already in crawl A' from constant-size sketches, the planning "
    "pass run before paying per-document dedup on a pair. The "
    "per-source sketch is MERGEABLE (min over union = element-wise "
    "min of per-doc signatures): per-doc shuffle-free array "
    "signature, posexplode, ONE map-side-combinable MIN agg keyed "
    "(source, pos); the pair matrix self-joins the bounded "
    "sources x num_hashes relation (metadata cardinality, broadcast). "
    "Same xxhash64 chain as d02, so estimates are comparable with "
    "per-doc thresholds; oracle = the independent public-spec XXH64 "
    "model over set unions (d81-pattern literal table)",
)
def d82(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import source_overlap_matrix

    docs = load(spark, sf, "documents").select("doc_id", "source", "text")
    return source_overlap_matrix(
        docs, id_col="doc_id", text_col="text", group_col="source"
    )


@register(
    "d83_hard_negative_mine",
    """
    with q as (
      select vec_id, embedding, label from embeddings
      where vec_id < 30 and label is not null and embedding is not null
    ), c as (
      select vec_id, embedding, label from embeddings
      where label is not null and embedding is not null
    ), scored as (
      select q.vec_id as query_id, q.label as query_label,
             c.vec_id as match_id, c.label as match_label,
             round(list_cosine_similarity(
               list_transform(q.embedding, x -> cast(x as double)),
               list_transform(c.embedding, x -> cast(x as double))),
               4) as score
      from q join c on q.vec_id != c.vec_id and q.label != c.label
    ), ranked as (
      select query_id, query_label, match_id, match_label, score,
             row_number() over (partition by query_id
                                order by score desc, match_id) as rank
      from scored
    )
    select query_id, query_label, match_id, match_label, score, rank
    from ranked where rank <= 5
    """,
    doc="hard-negative mining (hard_negative_mine): per query vector, "
    "the top-5 most-similar corpus vectors with a DIFFERENT label - "
    "the near-miss negatives contrastive retrieval training needs "
    "(random negatives are too easy to shape a boundary). Broadcast "
    "queries, one corpus stream, label filter inside the scoring "
    "scan, two-phase bounded top-k merge (never a per-query window "
    "over corpus rows), label join-back on the bounded result only; "
    "NULL-labeled rows excluded on both sides (an unlabeled neighbor "
    "cannot be certified a negative). score_round=4 pre-ranking, the "
    "ann_join cross-engine contract",
)
def d83(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.similarity import hard_negative_mine

    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 30)
    return hard_negative_mine(
        q, emb, vec_col="embedding", id_col="vec_id",
        label_col="label", k=5, score_round=4,
    )


@register(
    "c35_stream_cusum_maintenance",
    """
    with b as (
      select user_id, event_id, ts, value,
             cast(floor(value * 1000000.0 + 0.5) as bigint) as v
      from events
    ), p as (
      select user_id, event_id, ts, value, v,
             sum(coalesce(v - 50000000 - 5000000, 0)) over w as ppos,
             sum(coalesce(50000000 - v - 5000000, 0)) over w as pneg
      from b
      window w as (partition by user_id order by ts, event_id
                   rows between unbounded preceding and current row)
    ), s as (
      select user_id, event_id, ts, value, v,
             ppos - least(0, min(ppos) over w) as spos,
             pneg - least(0, min(pneg) over w) as sneg
      from p
      window w as (partition by user_id order by ts, event_id
                   rows between unbounded preceding and current row)
    )
    select user_id, event_id, ts, value,
      case when v is not null then spos / 1000000.0 end as cusum_pos,
      case when v is not null then sneg / 1000000.0 end as cusum_neg,
      cast(coalesce(v is not null
                    and (spos > 300000000 or sneg > 300000000),
                    false) as int) as is_alarm
    from s
    """,
    doc="streaming CUSUM maintenance (c35): the e22 changepoint chart "
    "kept current per micro-batch - the corpus arrives as TWO "
    "event-time-ordered batches (ts split), each batch scores its "
    "rows against the per-series carry (prefix total + floored "
    "running min, FOUR longs per series regardless of history) and "
    "the maintained row store must equal the one-shot e22 chart "
    "byte-for-byte (same oracle). Two-store exactly-once commit "
    "(scored rows first, cursor second - the c23/c31 crash-replay "
    "contract); in-order arrival per series required",
)
def c35(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_cusum_to_store

    ev = load(spark, sf, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    tmp = _tf.mkdtemp(prefix="bds_c35_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    cut = "2024-01-15"
    for tag, cond in (
        ("a", F.col("ts") < cut),
        ("b", F.col("ts") >= cut),
    ):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        ev.filter(cond).coalesce(1).write.parquet(part_dir)
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    rows_store = TableStore(tmp, "cusum_rows", spark)
    rows_store.configure(unique_on="event_id")
    state_store = TableStore(tmp, "cusum_state", spark)
    state_store.configure(unique_on="g")
    q = stream_cusum_to_store(
        stream, rows_store, state_store, f"{tmp}/_ckpt",
        value_col="value", group_col="user_id", ts_col="ts",
        id_col="event_id", target=50.0, slack=5.0, threshold=300.0,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return rows_store.read().select(
        "user_id", "event_id", "ts", "value",
        "cusum_pos", "cusum_neg", "is_alarm",
    )


@register(
    "e23_cuped_readout",
    """
    with assigned as (
      select user_id, ts,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from events
    ), per as (
      select user_id, arm,
             cast(sum(case when ts < timestamp '2024-01-15'
                           then 1 else 0 end) as hugeint) as x,
             cast(sum(case when ts >= timestamp '2024-01-15'
                           then 1 else 0 end) as hugeint) as y
      from assigned group by user_id, arm
    ), g as (
      select cast(count(*) as hugeint) as gn, sum(x) as gsx,
             sum(y) as gsy, sum(x*y) as gsxy, sum(x*x) as gsxx
      from per
    ), a as (
      select arm, cast(count(*) as hugeint) as n, sum(x) as sx,
             sum(y) as sy, sum(x*y) as sxy, sum(x*x) as sxx,
             sum(y*y) as syy
      from per group by arm
    ), c as (
      select arm, n, sx, sy, sxy, sxx, syy, gn, gsx, gsy, gsxy, gsxx,
             case when cast(gn as double)*cast(gsxx as double)
                       - cast(gsx as double)*cast(gsx as double) > 0
               then (cast(gn as double)*cast(gsxy as double)
                     - cast(gsx as double)*cast(gsy as double))
                    / (cast(gn as double)*cast(gsxx as double)
                       - cast(gsx as double)*cast(gsx as double))
               else 0.0 end as theta
      from a cross join g
    ), m as (
      select arm, n, theta,
             cast(sy as double)/cast(n as double) as mean_y,
             cast(sy as double)/cast(n as double)
               - theta * (cast(sx as double)/cast(n as double)
                          - cast(gsx as double)/cast(gn as double))
               as mean_y_cuped,
             (cast(n as double)*cast(syy as double)
              - cast(sy as double)*cast(sy as double))
             / (cast(n as double)*(cast(n as double)-1.0)) as var_y,
             (cast(n as double)*cast(sxy as double)
              - cast(sx as double)*cast(sy as double))
             / (cast(n as double)*(cast(n as double)-1.0)) as cov_a,
             (cast(n as double)*cast(sxx as double)
              - cast(sx as double)*cast(sx as double))
             / (cast(n as double)*(cast(n as double)-1.0)) as var_x_a
      from c
    ), v as (
      select arm, n, theta, mean_y, mean_y_cuped, var_y,
             var_y - 2.0*theta*cov_a + theta*theta*var_x_a as var_adj
      from m
    )
    select arm, cast(n as bigint) as n_units,
      floor(mean_y * 1000000.0 + 0.5) / 1000000.0 as mean_y,
      floor(mean_y_cuped * 1000000.0 + 0.5) / 1000000.0 as mean_y_cuped,
      floor(theta * 1000000.0 + 0.5) / 1000000.0 as theta,
      case when n >= 2
        then floor(var_y * 1000000.0 + 0.5) / 1000000.0 end as var_y,
      case when n >= 2
        then floor(var_adj * 1000000.0 + 0.5) / 1000000.0
        end as var_y_cuped,
      case when n >= 2 and var_y > 0
        then floor((1.0 - var_adj / var_y) * 1000000.0 + 0.5) / 1000000.0
        end as var_reduction
    from v
    """,
    doc="CUPED variance-reduced experiment readout (cuped_readout, "
    "Deng et al. WSDM 2013, public): per-arm outcome means adjusted "
    "by the pre-period covariate with pooled theta = cov(X,Y)/var(X) "
    "- the industry-standard way to cut experiment runtime on "
    "returning-user metrics; here X = events before 2024-01-15, Y = "
    "events after, arms via the e12/e13 md5-uniform assignment. Every "
    "moment (n, SX, SY, SXY, SXX, SYY) is EXACT integer arithmetic "
    "(decimal(38,0) / HUGEINT - the e21 parity pattern); theta, "
    "means, variances and the var_reduction diagnostic are single "
    "double expressions over identical integers, 1e6 floor-scaled. "
    "One global 1-row agg broadcast back + one per-arm hash agg",
)
def e23(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import (
        assign_experiment,
        cuped_readout,
    )

    cut = F.lit("2024-01-15").cast("timestamp")
    ev = load(spark, sf, "events").select("user_id", "ts")
    per = (
        assign_experiment(ev, ["control", "variant_a", "variant_b"])
        .groupBy("user_id", "arm")
        .agg(
            F.sum(
                F.when(F.col("ts") < cut, 1).otherwise(0)
            ).cast("long").alias("x_pre"),
            F.sum(
                F.when(F.col("ts") >= cut, 1).otherwise(0)
            ).cast("long").alias("y_post"),
        )
    )
    return cuped_readout(per)


@register(
    "d84_fim_split",
    """
    with b as (
      select doc_id, text,
             ('0x' || substr(md5('fim:gate:' || cast(doc_id as varchar)),
                             1, 8))::ubigint as bg,
             ('0x' || substr(md5('fim:p1:' || cast(doc_id as varchar)),
                             1, 8))::ubigint as b1,
             ('0x' || substr(md5('fim:p2:' || cast(doc_id as varchar)),
                             1, 8))::ubigint as b2,
             length(text) as ln
      from documents
    ), s as (
      select doc_id, text, ln,
             (text is not null and ln > 0 and bg < 2147483648) as applied,
             least(b1 % (ln + 1), b2 % (ln + 1)) as lo,
             greatest(b1 % (ln + 1), b2 % (ln + 1)) as hi
      from b
    )
    select doc_id, text,
      cast(coalesce(applied, false) as int) as fim_applied,
      case when applied then substr(text, 1, cast(lo as int))
           else text end as prefix,
      case when applied
             then substr(text, cast(lo as int) + 1, cast(hi - lo as int))
           when text is not null then '' end as middle,
      case when applied
             then substr(text, cast(hi as int) + 1, cast(ln - hi as int))
           when text is not null then '' end as suffix
    from s
    """,
    doc="fill-in-the-middle example construction (fim_split, Bavarian "
    "et al. 2022, public): rate=0.5 of documents split into "
    "(prefix, middle, suffix) at two deterministic char offsets for "
    "PSM/SPM training reorderings; gate and offsets are md5-uniform "
    "integers keyed (salt, role, id) - the e12 chain, no RNG, "
    "engine/cluster reproducible; the gate compares INTEGERS "
    "(bucket < rate*2^32). concat(prefix,middle,suffix) always "
    "reconstructs the doc. Pure projection - one map pass, no "
    "shuffle, no UDF",
)
def d84(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import fim_split

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return fim_split(docs, "doc_id", "text", rate=0.5)


@register(
    "d85_readability",
    """
    with c as (
      select doc_id, text,
             len(regexp_extract_all(text, '[A-Za-z]+')) as words,
             len(regexp_extract_all(text, '[.!?]+')) as sents_raw,
             len(regexp_extract_all(lower(text), '[aeiouy]+')) as sylls
      from documents
    ), s as (
      select doc_id, text, words, sylls,
             greatest(sents_raw, 1) as sents,
             (text is not null and words > 0) as has
      from c
    )
    select doc_id,
      case when text is not null
        then cast(words as bigint) end as n_words,
      case when has then cast(sents as bigint) end as n_sentences,
      case when text is not null
        then cast(sylls as bigint) end as n_syllables,
      case when has then
        floor((206.835 - 1.015 * (cast(words as double) / sents)
               - 84.6 * (cast(sylls as double) / words))
              * 1000000.0 + 0.5) / 1000000.0 end as flesch_ease,
      case when has then
        floor((0.39 * (cast(words as double) / sents)
               + 11.8 * (cast(sylls as double) / words) - 15.59)
              * 1000000.0 + 0.5) / 1000000.0 end as fk_grade
    from s
    """,
    doc="readability curation signals (readability_scores, Flesch "
    "1948 / Kincaid 1975, public formulas): letter-run word count, "
    "terminal-punctuation sentence count (floored at 1), vowel-group "
    "syllable proxy, Flesch reading ease + FK grade - text far "
    "outside the human-prose band is boilerplate/tables/word salad, "
    "and grade level is a standard curriculum-mix axis. Identical "
    "regexps both engines, double scores over exact integers, 1e6 "
    "floor-scaled, NULL for wordless docs; pure projection",
)
def d85(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import readability_scores

    docs = load(spark, sf, "documents").select("doc_id", "text")
    return readability_scores(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables",
        "flesch_ease", "fk_grade",
    )


@register(
    "d86_textrank_keywords",
    pyoracle.textrank_sql,
    doc="corpus keyword extraction via co-occurrence PageRank "
    "(textrank_keywords; TextRank, Mihalcea & Tarau 2004, public): "
    "lowercase letter-run tokens (len>=3), adjacent-pair undirected "
    "edges (window 2, both directions, distinct, self-loops "
    "dropped), node authority = the d28/d40 EXACT-INTEGER PageRank "
    "(raw_scaled - no float anywhere, engine/partitioning "
    "independent), top-25 by (rank desc, token asc). Edge build is "
    "projection+explode (no window); graph is vocabulary-sized; "
    "oracle = literal table from the independent Python model running "
    "the same integer recurrence over the same token stream",
)
def d86(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.graphrank import textrank_keywords

    docs = load(spark, sf, "documents").select("text")
    return textrank_keywords(docs, "text", k=25)


@register(
    "d87_fuzzy_decontaminate",
    """
    with corpus_s0 as (
      select doc_id as cid,
             trim(regexp_replace(lower(unnest(
               regexp_split_to_array(text, '[.!?]+'))), '\\s+', ' ', 'g'))
               as cs
      from documents where text is not null
    ), corpus_s as (
      select distinct cid, cs from corpus_s0 where length(cs) >= 20
    ), bench_s0 as (
      select doc_id as bid,
             trim(regexp_replace(lower(unnest(
               regexp_split_to_array(replace(text, ' the ', ' thw '),
                                     '[.!?]+'))), '\\s+', ' ', 'g'))
               as bs
      from documents where doc_id % 10 = 0 and text is not null
    ), bench_s as (
      select distinct bid, bs from bench_s0 where length(bs) >= 20
    ), cg0 as (
      select cid, cs, string_split(cs, ' ') as ws from corpus_s
    ), cg as (
      select distinct cid, cs,
             array_to_string(list_slice(ws, i, i + 2), ' ') as g
      from (select cid, cs, ws,
                   unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
            from cg0)
    ), bg0 as (
      select bid, bs, string_split(bs, ' ') as ws from bench_s
    ), bg as (
      select distinct bid, bs,
             array_to_string(list_slice(ws, i, i + 2), ' ') as g
      from (select bid, bs, ws,
                   unnest(range(1, greatest(len(ws) - 2, 1) + 1)) as i
            from bg0)
    ), cand as (
      select cid, cs, bid, bs, count(*) as shared
      from cg join bg using (g)
      group by cid, cs, bid, bs
      having count(*) >= 2
    ), hits as (
      select cid, bid, cs, levenshtein(cs, bs) as lev
      from cand
      where levenshtein(cs, bs)
            <= floor(0.2 * greatest(length(cs), length(bs)))
    )
    select cid as doc_id, bid as bench_id,
           cast(count(distinct cs) as bigint) as n_fuzzy_sentences,
           cast(min(lev) as bigint) as min_edit
    from hits group by cid, bid
    """,
    doc="fuzzy benchmark decontamination (fuzzy_decontaminate): exact "
    "n-gram screens miss eval items leaked with small edits; this "
    "confirms candidates at sentence granularity with a relative "
    "edit-distance gate (leak iff levenshtein <= 0.2*max(len)). The "
    "query plants the leak: bench = every 10th doc with ' the ' "
    "misspelled ' thw ' - the exact screen's grams still mostly "
    "match (recall filter, >=2 shared 3-grams), and the edit gate "
    "confirms. Benchmark grams broadcast, corpus exploded once and "
    "never self-joined, O(len^2) levenshtein only on gram-screened "
    "candidate pairs; exact-integer distances and counts",
)
def d87(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import fuzzy_decontaminate

    d = load(spark, sf, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.replace(
            F.col("text"), F.lit(" the "), F.lit(" thw ")
        ).alias("text"),
    )
    return fuzzy_decontaminate(
        d, bench, shingle_size=3, min_shared=2,
        max_rel_edit=0.2, min_sentence_chars=20,
    )


@register(
    "c36_stream_overlap_sketch_maintenance",
    pyoracle.source_overlap_sql,
    doc="streaming source-overlap sketch maintenance (c36): the d82 "
    "per-source MinHash sketch kept current per micro-batch - the "
    "corpus arrives as TWO batches and each batch's partial sketch "
    "folds into the persisted (source, pos, min_val) store by "
    "per-key LEAST (min over a union of shingle sets is the min of "
    "the parts' mins - the sketch's advertised mergeability, here "
    "exercised through the exactly-once merge sink), and the pair "
    "matrix read from the maintained state must equal the one-shot "
    "d82 byte-for-byte (same XXH64-model oracle). State is sources x "
    "num_hashes longs regardless of corpus size",
)
def c36(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.dedup import (
        overlap_matrix_from_sketch,
        source_minhash_sketch,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    d0 = load(spark, sf, "documents").select("doc_id", "source", "text")
    tmp = _tf.mkdtemp(prefix="bds_c36_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        d0.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        state = source_minhash_sketch(batch)
        if existing is None:
            return state
        prev = existing.select(
            "source", "pos", F.col("min_val").alias("__p")
        )
        return state.join(prev, ["source", "pos"], "full").select(
            "source",
            "pos",
            F.least(
                F.coalesce("min_val", "__p"), F.coalesce("__p", "min_val")
            ).alias("min_val"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "overlap_sketch", spark)
    store.configure(unique_on=["source", "pos"])
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return overlap_matrix_from_sketch(store.read())


_KN_LM_SQL = """
    with toks as (
      select doc_id, string_split(lower(coalesce(text, '')), ' ') as ws
      from documents
    ),
    tg as (
      select doc_id, ws[i] as w1, ws[i + 1] as w2, ws[i + 2] as w3
      from (select doc_id, ws, unnest(range(1, len(ws) - 1)) as i
            from toks where len(ws) >= 3)
    ),
    tri as (select w1, w2, w3, count(*) as c3
            from tg where doc_id % 5 = 0 group by 1, 2, 3),
    c2ctx as (select w1, w2, sum(c3) as c2, count(*) as n3f
              from tri group by 1, 2),
    mid as (select w2, w3, count(*) as n1p from tri group by 1, 2),
    midctx as (select w2, sum(n1p) as nmc, count(*) as nmf
               from mid group by 1),
    cont as (select w3, count(*) as nct from mid group by 1),
    bt as (select count(*) as bt from mid),
    j as (
      select g.doc_id,
             cast(coalesce(tri.c3, 0) as double) as c3,
             cast(coalesce(c2ctx.c2, 0) as double) as c2,
             cast(coalesce(c2ctx.n3f, 0) as double) as n3f,
             cast(coalesce(mid.n1p, 0) as double) as n1p,
             cast(coalesce(midctx.nmc, 0) as double) as nmc,
             cast(coalesce(midctx.nmf, 0) as double) as nmf,
             cast(coalesce(cont.nct, 0) as double) as nct,
             cast(bt.bt as double) as bt
      from tg g
      left join tri using (w1, w2, w3)
      left join c2ctx using (w1, w2)
      left join mid using (w2, w3)
      left join midctx using (w2)
      left join cont using (w3)
      cross join bt
    ),
    p2 as (
      select doc_id, c3, c2, n3f,
             case when nmc > 0
               then greatest(n1p - 0.75, 0.0) / nmc
                    + ((0.75 * nmf) / nmc) * (nct / bt)
               else nct / bt end as pkn2
      from j
    ),
    pr as (
      select doc_id,
             greatest(
               case when c2 > 0
                 then greatest(c3 - 0.75, 0.0) / c2
                      + ((0.75 * n3f) / c2) * pkn2
                 else pkn2 end,
               1e-10) as p
      from p2
    ),
    scored as (
      select doc_id,
             cast(floor(ln(p) * 1000000000.0) as bigint) as lp
      from pr
    ),
    agg as (
      select doc_id, cast(count(*) as bigint) as n_trigrams,
             sum(lp) as slp
      from scored group by 1
    )
    select doc_id, n_trigrams,
           round(cast(slp as double) / n_trigrams / 1000000000.0, 6)
             as lm_score
    from agg
    """


@register(
    "d88_kn_trigram_lm",
    _KN_LM_SQL,
    doc="interpolated Kneser-Ney trigram LM score per doc "
    "(kn_trigram_lm_score; Kneser-Ney 1995 / Chen-Goodman 1998, "
    "public - the smoothing KenLM/CCNet perplexity filtering is "
    "built on): absolute discount D=0.75 (exactly 3/4) with "
    "CONTINUATION counts and per-level fallthrough, trained on the "
    "doc_id%5=0 slice, scoring ALL docs (held-out generalization; "
    "unseen words clamp at the 1e-10 floor, never -inf). All counts "
    "exact integers from the train trigram relation; d19's "
    "integerize-before-reduce determinism (1e-9-scaled LONG "
    "log-probs, associative integer per-doc sum). r14 plan: the train "
    "stream aggregates ONCE into the trigram-type relation (one fit "
    "corpus scan, map-side combined), ALL six count tables derive "
    "from it via one TYPE-SIZED grouping-sets agg, the KN "
    "probability evaluates once per DISTINCT "
    "score trigram TYPE (five type-sized left joins off the corpus "
    "path), and the instance stream pays exactly one full-size "
    "Exchange (the type join-back) plus the map-side-combined "
    "per-doc agg - plan-gated in test_plans.py. No windows, no "
    "collect",
)
def d88(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.text import kn_trigram_lm_score

    d = load(spark, sf, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % 5 == 0)
    return kn_trigram_lm_score(train, d).select(
        "doc_id", "n_trigrams", "lm_score"
    )


@register(
    "e24_poisson_bootstrap_ci",
    """
    with assigned as (
      select user_id,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from events
    ), per as (
      select user_id, arm, cast(count(*) as hugeint) as y
      from assigned group by 1, 2
    ), point as (
      select arm, cast(count(*) as bigint) as n_units,
             cast(sum(y) as double) / count(*) as m
      from per group by arm
    ), reps as (
      select arm, user_id, y, unnest(range(0, 100)) as b from per
    ), drawn as (
      select arm, b, y,
             len(list_filter(
               [1580030168, 3160060337, 3950075421, 4213413783,
                4279248373, 4292415291, 4294609777, 4294923276,
                4294962463],
               t -> ('0x' || substr(md5('boot:' || cast(b as varchar)
                     || ':' || cast(user_id as varchar)),
                     1, 8))::ubigint >= t)) as k
      from reps
    ), repagg as (
      select arm, b, sum(cast(k as hugeint)) as w,
             sum(cast(k as hugeint) * y) as wy
      from drawn group by 1, 2
    ), nz as (
      select arm, b, cast(wy as double) / cast(w as double) as m
      from repagg where w > 0
    ), ranked as (
      select arm, m,
             row_number() over (partition by arm order by m, b) as r,
             count(*) over (partition by arm) as nb
      from nz
    ), ci as (
      select arm,
        min(case when r = greatest(1, cast(floor(nb * 0.025) as int))
                 then m end) as lo,
        min(case when r = least(nb, cast(ceil(nb * 0.975) as int))
                 then m end) as hi
      from ranked group by arm
    )
    select p.arm, p.n_units,
      floor(p.m * 1000000.0 + 0.5) / 1000000.0 as mean_y,
      floor(lo * 1000000.0 + 0.5) / 1000000.0 as ci_lo,
      floor(hi * 1000000.0 + 0.5) / 1000000.0 as ci_hi
    from point p left join ci using (arm)
    """,
    doc="deterministic Poisson bootstrap CIs per arm "
    "(poisson_bootstrap_ci; Chamandy et al., Google 2012, public): "
    "each unit enters replicate b with weight K~Poisson(1) drawn "
    "RNG-FREE by comparing an md5-uniform integer keyed (salt, b, "
    "unit) against exact integer Poisson-CDF thresholds (shared "
    "literals both engines); CI = exact order statistics of the 100 "
    "replicate means (no quantile interpolation - ranks cannot "
    "float-tie across engines). One explode to units x B, one "
    "map-side-combinable integer (arm, b) agg, a rank window over B "
    "rows per arm (bounded by construction). Metric: per-user event "
    "count, arms via the e12 md5 assignment",
)
def e24(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import (
        assign_experiment,
        poisson_bootstrap_ci,
    )

    ev = load(spark, sf, "events").select("user_id")
    per = (
        assign_experiment(ev, ["control", "variant_a", "variant_b"])
        .groupBy("user_id", "arm")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return poisson_bootstrap_ci(
        per, arm_col="arm", y_col="y", unit_col="user_id",
        replicates=100, alpha=0.05,
    )


@register(
    "e25_poisson_bootstrap_ratio_ci",
    """
    with assigned as (
      select user_id, value,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from events
    ), per as (
      select user_id, arm,
             cast(sum(cast(floor(coalesce(value, 0) * 1000000.0 + 0.5)
                           as bigint)) as hugeint) as num,
             cast(count(*) as hugeint) as den
      from assigned group by 1, 2
    ), point as (
      select arm, cast(count(*) as bigint) as n_units,
             cast(sum(num) as double) / cast(sum(den) as double) as m
      from per group by arm
    ), reps as (
      select arm, user_id, num, den, unnest(range(0, 100)) as b from per
    ), drawn as (
      select arm, b, num, den,
             len(list_filter(
               [1580030168, 3160060337, 3950075421, 4213413783,
                4279248373, 4292415291, 4294609777, 4294923276,
                4294962463],
               t -> ('0x' || substr(md5('boot:' || cast(b as varchar)
                     || ':' || cast(user_id as varchar)),
                     1, 8))::ubigint >= t)) as k
      from reps
    ), repagg as (
      select arm, b, sum(cast(k as hugeint) * den) as w,
             sum(cast(k as hugeint) * num) as wy
      from drawn group by 1, 2
    ), nz as (
      select arm, b, cast(wy as double) / cast(w as double) as m
      from repagg where w > 0
    ), ranked as (
      select arm, m,
             row_number() over (partition by arm order by m, b) as r,
             count(*) over (partition by arm) as nb
      from nz
    ), ci as (
      select arm,
        min(case when r = greatest(1, cast(floor(nb * 0.025) as int))
                 then m end) as lo,
        min(case when r = least(nb, cast(ceil(nb * 0.975) as int))
                 then m end) as hi
      from ranked group by arm
    )
    select p.arm, p.n_units,
      floor(p.m * 1000000.0 + 0.5) / 1000000.0 as ratio,
      floor(lo * 1000000.0 + 0.5) / 1000000.0 as ci_lo,
      floor(hi * 1000000.0 + 0.5) / 1000000.0 as ci_hi
    from point p left join ci using (arm)
    """,
    doc="deterministic Poisson bootstrap CIs for a RATIO metric "
    "(poisson_bootstrap_ci den_col=; VERDICT r13 task #7): "
    "revenue-per-event per arm = sum(micro-value)/sum(events) - a "
    "ratio of SUMS, so each replicate re-weights the unit's "
    "(numerator, denominator) PAIR with ONE md5-keyed Poisson(1) "
    "weight (independent resampling of the two sides would be "
    "statistically wrong); replicates with zero weighted denominator "
    "drop, CI = the e24 exact rank endpoints over the replicate "
    "ratios. Exact integer micro-units (floor(value*1e6+0.5), the "
    "e22 trick) keep both sums engine-identical; one explode to "
    "units x B, one integer (arm,b) agg, bounded rank window",
)
def e25(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import (
        assign_experiment,
        poisson_bootstrap_ci,
    )

    ev = load(spark, sf, "events").select("user_id", "value")
    per = (
        assign_experiment(ev, ["control", "variant_a", "variant_b"])
        .groupBy("user_id", "arm")
        .agg(
            F.sum(
                F.floor(
                    F.coalesce(F.col("value"), F.lit(0.0)) * 1000000.0
                    + 0.5
                ).cast("long")
            ).alias("num"),
            F.count(F.lit(1)).cast("long").alias("den"),
        )
    )
    return poisson_bootstrap_ci(
        per, arm_col="arm", y_col="num", unit_col="user_id",
        replicates=100, alpha=0.05, den_col="den",
    )


@register(
    "c37_stream_kn_counts_maintenance",
    _KN_LM_SQL,
    doc="streaming Kneser-Ney count-table maintenance (c37; VERDICT "
    "r13 task #5): the train slice arrives as TWO micro-batches and "
    "each batch's trigram-type counts SUM-merge into the persisted "
    "(w1,w2,w3,c3) store through the exactly-once merge sink - tri "
    "is the fit's ONLY stateful relation (c3 is per-key SUM-mergeable "
    "across batches; the derived tables n3f/n1p/nmc/nmf/nct/bt count "
    "DISTINCT types and are NOT mergeable - a later batch adding "
    "instances to an existing type must not bump them - so they "
    "recompute from maintained tri at scoring time, a type-sized "
    "grouping-sets agg). Scoring held-out docs from the maintained "
    "store is byte-identical to the one-shot d88 fit (same oracle "
    "verbatim). State is trigram-type-sized regardless of corpus",
)
def c37(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.text import (
        kn_trigram_counts,
        kn_trigram_lm_score_from_counts,
    )
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    d = load(spark, sf, "documents").select("doc_id", "text")
    train = d.filter(F.col("doc_id") % 5 == 0)
    tmp = _tf.mkdtemp(prefix="bds_c37_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        train.filter(
            (F.col("doc_id") / 5).cast("long") % 2 == mod
        ).coalesce(1).write.parquet(part_dir)
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        state = kn_trigram_counts(batch)
        if existing is None:
            return state
        prev = existing.select(
            "w1", "w2", "w3", F.col("c3").alias("__p")
        )
        return (
            state.join(prev, ["w1", "w2", "w3"], "full")
            .select(
                "w1", "w2", "w3",
                (
                    F.coalesce(F.col("c3"), F.lit(0))
                    + F.coalesce(F.col("__p"), F.lit(0))
                ).cast("long").alias("c3"),
            )
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "kn_counts", spark)
    store.configure(unique_on=["w1", "w2", "w3"])
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return kn_trigram_lm_score_from_counts(store.read(), d).select(
        "doc_id", "n_trigrams", "lm_score"
    )


@register(
    "d89_unigram_lm_fit",
    pyoracle.unigram_fit_sql,
    doc="unigram-LM (SentencePiece-style) tokenizer fit (Kudo 2018, "
    "public - the subword model T5/LLaMA-family pipelines train "
    "with; unigram_lm_fit, VERDICT r13 task #6): seed candidates = "
    "top substrings of the DISTINCT-word relation by exact integer "
    "weight (+ every single char, never pruned), then hard-EM "
    "(Viterbi-EM) rounds - each word's single best segmentation "
    "under 1e-9-scaled LONG log-probs (deterministic tie-break: "
    "higher score, then longer piece), recounts as exact integer "
    "sums of word weights, prune to vocab_size by (count desc, "
    "piece asc). The full forward-backward EM is documented as "
    "deliberately replaced by its Viterbi variant: expected counts "
    "are float accumulations whose cross-engine reduction order "
    "cannot replay; hard counts are integers. Oracle = an "
    "independent Python model of the same algorithm (the d86 "
    "literal-table pattern). Everything runs at word/piece scale "
    "(substr explode <= len x max_piece_len per DISTINCT word, one "
    "piece join, per-word DP fold); the corpus is scanned once for "
    "word weights and never iterated",
)
def d89(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.unigram import unigram_lm_fit

    docs = load(spark, sf, "documents").select("text")
    return unigram_lm_fit(
        docs, vocab_size=300, seed_size=800, max_piece_len=4,
        em_iters=2,
    ).select("piece", "cnt", "lp").orderBy("piece")


@register(
    "d90_unigram_fertility",
    pyoracle.unigram_fertility_sql,
    doc="unigram tokenizer APPLY + per-source fertility (d89's "
    "companion eval, the d45 report shape over unigram_lm_apply_"
    "indexed): fit on the corpus, tokenize every doc through the d37 "
    "indexed-join apply (distinct words Viterbi-segmented once, "
    "corpus pays one vocab join + one positional regroup), report "
    "tokens-per-word per source (floor-scaled 1e6). Oracle = the "
    "same independent Python model fitting AND tokenizing (d86 "
    "literal-table pattern) - exercising the full fit->apply->eval "
    "path end-to-end, not just the fitted table",
)
def d90(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.unigram import (
        unigram_lm_apply_indexed,
        unigram_lm_fit,
    )

    docs = load(spark, sf, "documents").select("doc_id", "source", "text")
    pieces = unigram_lm_fit(
        docs, vocab_size=300, seed_size=800, max_piece_len=4,
        em_iters=2,
    )
    out = unigram_lm_apply_indexed(docs, pieces)
    n_words = F.size(
        F.filter(
            F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
            lambda w: w != "",
        )
    ).cast("long")
    per = out.select(
        "source",
        F.size("um_tokens").cast("long").alias("__nt"),
        n_words.alias("__nw"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__nw").cast("long").alias("n_words"),
            F.sum("__nt").cast("long").alias("n_um_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_um_tokens",
            F.when(
                F.col("n_words") > 0,
                F.floor(
                    F.col("n_um_tokens").cast("double")
                    / F.col("n_words").cast("double")
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0,
            ).otherwise(F.lit(0.0)).alias("fertility"),
        )
    )


@register(
    "c38_stream_unigram_fit_maintenance",
    pyoracle.unigram_fit_sql,
    doc="streaming unigram-tokenizer refit maintenance (c38, the c21 "
    "pattern for d89): word weights are the unigram fit's ONLY "
    "corpus-derived input and are per-key SUM-mergeable, so the "
    "corpus arrives as TWO micro-batches whose (word, weight) counts "
    "fold into a persisted word store through the exactly-once merge "
    "sink, and refitting from the maintained store (unigram_lm_fit "
    "words=) is byte-identical to the one-shot d89 fit - same Python-"
    "model oracle verbatim. Refit stays explicit (the D54 artifact "
    "contract); state is distinct-word-sized regardless of corpus",
)
def c38(spark: SparkSession, sf: str) -> DataFrame:
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import tempfile as _tf

    from basis_devkit_spark.operators.bpe import _word_weights
    from basis_devkit_spark.operators.unigram import unigram_lm_fit
    from basis_devkit_spark.storage.store import TableStore
    from basis_devkit_spark.streaming.ops import stream_merge_to_store

    d = load(spark, sf, "documents").select("doc_id", "text")
    tmp = _tf.mkdtemp(prefix="bds_c38_")
    drop = _os.path.join(tmp, "drop")
    _os.makedirs(drop, exist_ok=True)
    for tag, mod in (("a", 0), ("b", 1)):
        part_dir = _os.path.join(tmp, f"part_{tag}")
        d.filter(F.col("doc_id") % 2 == mod).coalesce(1).write.parquet(
            part_dir
        )
        src = _glob.glob(_os.path.join(part_dir, "part-*.parquet"))[0]
        _shutil.copy(src, _os.path.join(drop, f"{tag}.parquet"))
    raw_schema = spark.read.parquet(_os.path.join(drop, "a.parquet")).schema

    def merge(batch: DataFrame, existing: DataFrame | None) -> DataFrame:
        state = _word_weights(batch, "text")
        if existing is None:
            return state
        prev = existing.select("word", F.col("weight").alias("__p"))
        return state.join(prev, "word", "full").select(
            "word",
            (
                F.coalesce(F.col("weight"), F.lit(0))
                + F.coalesce(F.col("__p"), F.lit(0))
            ).cast("long").alias("weight"),
        )

    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    store = TableStore(tmp, "unigram_words", spark)
    store.configure(unique_on=["word"])
    q = stream_merge_to_store(stream, store, f"{tmp}/_ckpt", merge).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return unigram_lm_fit(
        d, vocab_size=300, seed_size=800, max_piece_len=4, em_iters=2,
        words=store.read().select("word", "weight"),
    ).select("piece", "cnt", "lp").orderBy("piece")


@register(
    "e26_msprt_always_valid",
    """
    with assigned as (
      select user_id,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from events
    ), per as (
      select user_id, arm, cast(count(*) as hugeint) as y
      from assigned group by 1, 2
    ), m as (
      select arm, cast(count(*) as hugeint) as n, sum(y) as sy,
             sum(y*y) as syy
      from per group by arm
    ), c as (
      select n as cn, sy as csy, syy as csyy from m
      where arm = 'control'
    ), j as (
      select arm, n, sy, syy, cn, csy, csyy,
             cast(sy as double) / cast(n as double) as mean_t,
             cast(csy as double) / cast(cn as double) as mean_c
      from m cross join c
    ), v as (
      select *,
        mean_t - mean_c as delta,
        ((cast(n as double) - 1.0) *
           ((cast(n as double)*cast(syy as double)
             - cast(sy as double)*cast(sy as double))
            / (cast(n as double)*(cast(n as double) - 1.0)))
         + (cast(cn as double) - 1.0) *
           ((cast(cn as double)*cast(csyy as double)
             - cast(csy as double)*cast(csy as double))
            / (cast(cn as double)*(cast(cn as double) - 1.0))))
        / (cast(n as double) + cast(cn as double) - 2.0)
        * (1.0 / cast(cn as double) + 1.0 / cast(n as double)) as vv
      from j
    ), lam as (
      select *,
        sqrt(vv / (vv + 0.25))
          * exp(delta * delta * 0.25 / (2.0 * vv * (vv + 0.25))) as l
      from v
    )
    select arm, cast(n as bigint) as n_units,
      floor(mean_t * 1000000.0 + 0.5) / 1000000.0 as mean_y,
      case when arm != 'control'
        then floor(delta * 1000000.0 + 0.5) / 1000000.0 end as delta,
      case when arm != 'control' and n >= 2 and cn >= 2 and vv > 0
        then floor(least(1.0, 1.0 / l) * 1000000.0 + 0.5) / 1000000.0
        end as p_always_valid,
      cast(coalesce(arm != 'control' and n >= 2 and cn >= 2 and vv > 0
                    and least(1.0, 1.0 / l) < 0.05, false) as int)
        as significant
    from lam
    """,
    doc="always-valid experiment inference via the mixture SPRT "
    "(msprt_readout; Johari-Pekelis-Walsh 2017/2022, public - the "
    "always-valid p-values production experimentation platforms "
    "ship): fixed-n t-tests are invalidated by continuous monitoring "
    "(peeking inflates false positives); the mSPRT p-value is valid "
    "at EVERY look. Per treatment arm vs control: pooled-variance V, "
    "normal mixture tau=0.5, Lambda = sqrt(V/(V+tau^2)) * "
    "exp(delta^2 tau^2 / (2V(V+tau^2))), p = min(1, 1/Lambda). The "
    "e21/e23 parity pattern: exact integer moments (decimal(38,0)/"
    "HUGEINT), identical-order double expressions, 1e6 "
    "floor-scaling; one per-arm hash agg + broadcast one-row control "
    "join. Metric: per-user event count, arms via the e12 md5 "
    "assignment",
)
def e26(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import (
        assign_experiment,
        msprt_readout,
    )

    ev = load(spark, sf, "events").select("user_id")
    per = (
        assign_experiment(ev, ["control", "variant_a", "variant_b"])
        .groupBy("user_id", "arm")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return msprt_readout(per, tau=0.5, alpha=0.05)


@register(
    "d92_kcore_decomposition",
    pyoracle.kcore_sql,
    doc="coreness (k-core number) per node over the d49 part "
    "co-purchase graph (kcore_decompose): the graph-quality cut that "
    "peels leaves/chains off LSH candidate graphs and surfaces the "
    "dense template clusters worth review. Computed as the h-index "
    "fixpoint (Lu-Zhou-Zhang-Stanley 2016, public - provably "
    "converges to exact Batagelj-Zaversnik coreness, embarrassingly "
    "parallel per round): core0 = degree, then per round ONE "
    "(node, neighbor-core) histogram agg (map-side combinable, "
    "per-node state bounded by distinct core values, never hub "
    "degree - no collect of neighbor lists) + a bounded per-node "
    "fold h = max(min(value, cumcount)); monotone decrease, stop at "
    "zero changes. Oracle = independent Python min-heap peeling "
    "model. All integers, deterministic under any partitioning",
)
def d92(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.dedup import release_signature_caches
    from basis_devkit_spark.operators.graphrank import kcore_decompose

    l = load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    a = l.alias("a")
    b = l.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("id_a"), F.col("b.p").alias("id_b"))
    )
    out = kcore_decompose(edges)
    ck = out.localCheckpoint(eager=True)
    release_signature_caches(out)
    return ck


def _tiff_ifd_hex(le: bool, entries: list[tuple[int, int, int]]) -> bytes:
    import struct as _st

    bo = b"II" if le else b"MM"
    e = "<" if le else ">"
    out = bo + _st.pack(e + "H", 42) + _st.pack(e + "I", 8)
    out += _st.pack(e + "H", len(entries))
    for tag, typ, val in entries:
        out += _st.pack(e + "H", tag) + _st.pack(e + "H", typ)
        out += _st.pack(e + "I", 1)
        if typ == 3:  # SHORT: value left-justified in the 4-byte field
            out += _st.pack(e + "H", val) + b"\x00\x00"
        else:  # LONG
            out += _st.pack(e + "I", val)
    out += _st.pack(e + "I", 0)  # next-IFD pointer
    return out


def _jpeg_hex(
    app0: bool = False,
    exif: bytes | None = None,
    corrupt_magic: bool = False,
) -> str:
    import struct as _st

    b0 = b"\xff\xd8"
    if app0:
        payload = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        b0 += b"\xff\xe0" + _st.pack(">H", len(payload) + 2) + payload
    if exif is not None:
        magic = b"Exif\x00\x00" if not corrupt_magic else b"Fake\x00\x00"
        seg = magic + exif
        b0 += b"\xff\xe1" + _st.pack(">H", len(seg) + 2) + seg
    return (b0 + b"\xff\xd9").hex()


#: (hex, is_jpeg, has_exif, byte_order, n_entries, orientation, w, h)
_EXIF_FIXTURES = [
    (_jpeg_hex(exif=_tiff_ifd_hex(True, [(0x0100, 4, 640),
                                         (0x0101, 4, 480),
                                         (0x0112, 3, 6)])),
     True, True, "II", 3, 6, 640, 480),
    (_jpeg_hex(app0=True, exif=_tiff_ifd_hex(False, [(0x0112, 3, 1)])),
     True, True, "MM", 1, 1, None, None),
    (_jpeg_hex(app0=True), True, False, None, None, None, None, None),
    ("89504e470d0a", False, False, None, None, None, None, None),
    (_jpeg_hex(exif=_tiff_ifd_hex(True, [(0x0112, 3, 8)]),
               corrupt_magic=True),
     True, False, None, None, None, None, None),
    (_jpeg_hex(exif=_tiff_ifd_hex(False, [(0x0100, 3, 320),
                                          (0x0101, 3, 240)])),
     True, True, "MM", 2, None, 320, 240),
]


@register(
    "d05j_exif_tiff_parse",
    f"""
    with blobs as (
      select doc_id, doc_id % 6 as variant from documents
    ), truth as (
      select * from (values
        {", ".join(
            "({i}, {j}, {e}, {bo}, {n}, {o}, {w}, {h})".format(
                i=i,
                j="true" if j else "false",
                e="true" if e else "false",
                bo="'" + bo + "'" if bo else "cast(null as varchar)",
                n=n if n is not None else "cast(null as int)",
                o=o if o is not None else "cast(null as int)",
                w=w if w is not None else "cast(null as bigint)",
                h=h if h is not None else "cast(null as bigint)",
            )
            for i, (_hx, j, e, bo, n, o, w, h)
            in enumerate(_EXIF_FIXTURES)
        )}
      ) t(variant, is_jpeg, has_exif, byte_order, n_ifd_entries,
          orientation, image_width, image_length)
    )
    select b.doc_id, t.is_jpeg, t.has_exif, t.byte_order,
           cast(t.n_ifd_entries as int) as n_ifd_entries,
           cast(t.orientation as int) as orientation,
           cast(t.image_width as bigint) as image_width,
           cast(t.image_length as bigint) as image_length
    from blobs b join truth t using (variant)
    """,
    doc="decode-free EXIF/TIFF metadata from JPEG blobs "
    "(exif_tiff_fields; JPEG marker framing + TIFF 6.0 IFD layout, "
    "public specs): the ORIENTATION tag is the only rotation-correct "
    "crop/resize input a multimodal pipeline has before pixel "
    "decode; byte order + IFD entry count are the corruption "
    "screens. Markers located by computed segment lengths (APP0 may "
    "precede APP1), IFD0 walked as a bounded transform over "
    "least(n_entries, 64) 12-byte entries honoring II/MM byte order "
    "for SHORT and LONG tags - O(64) per row whatever the blob size "
    "(the sniff_format contract). Fixtures constructed bytewise "
    "in-query (six variants: LE full tags, BE orientation-only "
    "after JFIF, JFIF-no-exif, non-JPEG, corrupt Exif magic, BE "
    "SHORT dims) - oracle is construction truth",
)
def d05j(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.multimodal import exif_tiff_fields

    d = load(spark, sf, "documents").select("doc_id")
    hdr = None
    for i, (hx, *_rest) in enumerate(_EXIF_FIXTURES):
        cond = F.col("doc_id") % 6 == i
        lit = F.lit(bytes.fromhex(hx))
        hdr = F.when(cond, lit) if hdr is None else hdr.when(cond, lit)
    blobs = d.withColumn("content", hdr)
    s = exif_tiff_fields("content")
    return blobs.select("doc_id", s.alias("s")).select("doc_id", "s.*")


def _e27_sql() -> str:
    from basis_devkit_spark.operators.events import _norm_ppf

    z = _norm_ppf(1.0 - 0.05 / 2.0) + _norm_ppf(0.8)
    return f"""
    with assigned as (
      select user_id,
             case (('0x' || substr(md5('exp1' || cast(user_id as varchar)),
                                   1, 8))::ubigint % 3)
               when 0 then 'control' when 1 then 'variant_a'
               else 'variant_b' end as arm
      from events
    ), per as (
      select user_id, arm, cast(count(*) as hugeint) as y
      from assigned group by 1, 2
    ), m as (
      select arm, cast(count(*) as hugeint) as n, sum(y) as sy,
             sum(y*y) as syy
      from per group by arm
    ), c as (
      select n as cn, sy as csy, syy as csyy from m
      where arm = 'control'
    ), j as (
      select arm, n, sy, syy, cn, csy, csyy,
             cast(sy as double) / cast(n as double) as mean_t,
             cast(csy as double) / cast(cn as double) as mean_c,
             ((cast(n as double) - 1.0) *
                ((cast(n as double)*cast(syy as double)
                  - cast(sy as double)*cast(sy as double))
                 / (cast(n as double)*(cast(n as double) - 1.0)))
              + (cast(cn as double) - 1.0) *
                ((cast(cn as double)*cast(csyy as double)
                  - cast(csy as double)*cast(csy as double))
                 / (cast(cn as double)*(cast(cn as double) - 1.0))))
             / (cast(n as double) + cast(cn as double) - 2.0) as sp2
      from m cross join c
    ), s as (
      select *, sqrt(sp2 * (1.0 / cast(cn as double)
                            + 1.0 / cast(n as double))) as se
      from j
    )
    select arm, cast(n as bigint) as n_units,
      floor(mean_t * 1000000.0 + 0.5) / 1000000.0 as mean_y,
      case when arm != 'control' and n >= 2 and cn >= 2 and sp2 > 0
        then floor(se * 1000000.0 + 0.5) / 1000000.0 end as se_delta,
      case when arm != 'control' and n >= 2 and cn >= 2 and sp2 > 0
        then floor({z!r} * se * 1000000.0 + 0.5) / 1000000.0
        end as mde_abs,
      case when arm != 'control' and n >= 2 and cn >= 2 and sp2 > 0
                and mean_c != 0
        then floor({z!r} * se / abs(0.0 + mean_c) * 1000000.0 + 0.5)
             / 1000000.0 end as mde_rel
    from s
    """


@register(
    "e27_power_mde_readout",
    _e27_sql,
    doc="minimum detectable effect at current sample sizes "
    "(power_mde_readout; public textbook two-sample formula): an "
    "underpowered readout 'finding nothing' is indistinguishable "
    "from a true null, so report what the test COULD see - MDE = "
    "(z_{1-a/2} + z_power) * sqrt(sp2*(1/nc+1/nt)) with pooled "
    "variance from exact integer moments (the e21/e23 parity "
    "pattern) and z-quantiles from Acklam's rational approximation "
    "computed DRIVER-SIDE (parameters, not data - the literals are "
    "shared verbatim with the oracle by construction, no "
    "transcendental parity exposure beyond sqrt). One per-arm hash "
    "agg + broadcast one-row control join. Metric: per-user event "
    "count, arms via the e12 md5 assignment",
)
def e27(spark: SparkSession, sf: str) -> DataFrame:
    from basis_devkit_spark.operators.events import (
        assign_experiment,
        power_mde_readout,
    )

    ev = load(spark, sf, "events").select("user_id")
    per = (
        assign_experiment(ev, ["control", "variant_a", "variant_b"])
        .groupBy("user_id", "arm")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    return power_mde_readout(per, alpha=0.05, power=0.8)
