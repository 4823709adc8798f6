"""Operator correctness beyond the SQL oracle: LSH recall vs exact,
SimHash properties, as-of/range joins vs naive equivalents, text ops,
multimodal plumbing, similarity metrics."""

import pytest
from pyspark.sql import functions as F

from basis_devkit_spark.operators import (
    as_of_join,
    brute_force_topk,
    embedding_near_dup_pairs,
    exact_dedup,
    ivf_topk,
    language_id,
    lsh_topk,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    range_join,
    simhash,
    simhash_near_dup_pairs,
)
from basis_devkit_spark.operators.text import doc_fingerprint, quality_score, text_stats
from basis_devkit_spark.queries import load

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF, "embeddings")


def test_exact_dedup_keep_last(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 20), (2, "c", 5)], "k int, v string, ord int"
    )
    kept = exact_dedup(df, ["k"], order_by="ord", keep="last")
    assert {(r.k, r.v) for r in kept.collect()} == {(1, "b"), (2, "c")}


def test_minhash_estimates_jaccard(spark, docs):
    """LSH candidates' estimated Jaccard should track exact word-shingle
    Jaccard: every exact pair ≥0.8 must be found by LSH at threshold 0.5
    (banding theory: 16 bands × 4 rows → ~0.72 threshold s-curve)."""
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_size=3, threshold=0.8
        ).collect()
    }
    cand = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", num_hashes=64, bands=16, jaccard_threshold=0.5
        ).collect()
    }
    missed = set(exact) - set(cand)
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    for pair, est in cand.items():
        if pair in exact:
            assert abs(est - exact[pair]) < 0.35  # 64-hash estimator noise


def test_minhash_hot_bucket_guard_identical_clique(spark):
    """100 TB safety rail: 5k byte-identical docs (the boilerplate/mirror
    case) must produce LINEAR output — one star pair per member to the
    min-id representative (4999 pairs), never the quadratic 12.5M clique —
    and keep-one dedup must keep exactly the representative."""
    from basis_devkit_spark.operators.dedup import minhash_dedup

    n = 5000
    rows = [(i, "common boilerplate text repeated across every mirror site") for i in range(n)]
    rows += [(n + 1, "a genuinely unique document about differential geometry")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    pairs = minhash_near_dup_pairs(
        df, "doc_id", "text", jaccard_threshold=0.7, max_bucket_size=100
    )
    got = pairs.collect()
    assert len(got) == n - 1
    assert all(r.id_a == 0 and r.est_jaccard == 1.0 for r in got)
    assert {r.id_b for r in got} == set(range(1, n))
    kept = minhash_dedup(
        df, "doc_id", "text", jaccard_threshold=0.7, max_bucket_size=100
    )
    assert sorted(r.doc_id for r in kept.collect()) == [0, n + 1]


def test_minhash_guard_drops_hot_buckets_and_matches_unguarded_dedup(spark, docs):
    """On a normal corpus the guard changes nothing: guarded dedup keeps
    exactly the same docs as unguarded (star pairs replace clique pairs
    only for identical-signature clusters, which keep-one treats the
    same). And lsh_bucket_stats exposes the size distribution the cap
    acts on."""
    from basis_devkit_spark.operators.dedup import lsh_bucket_stats, minhash_dedup

    base = {
        r.doc_id
        for r in minhash_dedup(docs, "doc_id", "text", jaccard_threshold=0.7).collect()
    }
    guarded = {
        r.doc_id
        for r in minhash_dedup(
            docs, "doc_id", "text", jaccard_threshold=0.7, max_bucket_size=50
        ).collect()
    }
    assert guarded == base
    stats = lsh_bucket_stats(docs, "doc_id", "text").collect()
    assert all(r.size >= 2 for r in stats)


def test_simhash_hot_bucket_guard_identical_clique(spark):
    """SimHash analogue: identical fingerprints collapse to star pairs
    (hamming 0); the pigeonhole block join never sees the clique."""
    n = 3000
    rows = [(i, "same exact boilerplate page text") for i in range(n)]
    rows += [(n + 5, "another entirely unrelated corpus document")]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    pairs = simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=3, max_bucket_size=100
    ).collect()
    assert len(pairs) == n - 1
    assert all(r.id_a == 0 and r.hamming == 0 for r in pairs)


def test_simhash_guard_oversized_bucket_dropped(spark):
    """Distinct fingerprints that flood one (block, chunk) bucket past the
    cap are excluded from candidate generation (bounded join fan-out);
    under the cap the same corpus yields pairs."""
    # 40 docs sharing a long common prefix of tokens -> fingerprints agree
    # on most bits, so low-order chunks collide across many docs.
    common = " ".join(f"tok{i}" for i in range(60))
    rows = [(i, f"{common} unique{i} tail{i % 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    open_pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=6).count()
    capped_pairs = simhash_near_dup_pairs(
        df, "doc_id", "text", max_hamming=6, max_bucket_size=2
    ).count()
    assert open_pairs > 0
    assert capped_pairs < open_pairs


def test_simhash_deterministic_and_permutation_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fox"), (3, "completely different words here")],
        "doc_id int, text string",
    )
    fps = {r.doc_id: r.simhash for r in simhash(df, "doc_id", "text").collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", max_hamming=3).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")], "doc_id int, text string"
    )
    fps = {r.doc_id: r.fingerprint for r in doc_fingerprint(df, "text").collect()}
    assert fps[1] != fps[2]


def test_brute_force_topk_matches_naive(spark, emb):
    """Spark top-k must equal a numpy-computed exact answer."""
    import numpy as np

    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    got = brute_force_topk(
        emb.filter("vec_id = 0"), emb, vec_col="embedding", id_col="vec_id", k=3
    ).collect()
    q = vecs[0]
    sims = {
        vid: float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
        for vid, v in vecs.items()
        if vid != 0
    }
    want = sorted(sims, key=lambda k: (-sims[k], k))[:3]
    assert [r.match_id for r in sorted(got, key=lambda r: r.rank)] == want


def test_lsh_topk_recall(spark, emb):
    """ANN recall@5 vs exact top-5 should be usable (≥0.4 with these
    params on random vectors; tightness isn't the point — the machinery is)."""
    q = emb.filter("vec_id < 10")
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = lsh_topk(q, emb, k=5, num_planes=16, bands=8).collect()
    exact_set = {(r.query_id, r.match_id) for r in exact}
    approx_set = {(r.query_id, r.match_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_ivf_topk_recall(spark, emb):
    q = emb.filter("vec_id < 10")
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = ivf_topk(q, emb, k=5, nlist=8, nprobe=4).collect()
    exact_set = {(r.query_id, r.match_id) for r in exact}
    approx_set = {(r.query_id, r.match_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_deterministic_kmeans_reproducible_and_recall(spark, emb):
    """The driver-side spherical Lloyd's fit is bit-reproducible (same
    input → identical centers, twice), produces unit-norm centers, and
    the IVF pipeline built on it (the d03d shape) keeps usable recall
    vs exact top-5."""
    import math

    from basis_devkit_spark.operators.similarity import (
        deterministic_kmeans,
        fit_quantizer_sample,
    )

    cents1 = fit_quantizer_sample(emb, k=8, iters=10)
    cents2 = fit_quantizer_sample(emb, k=8, iters=10)
    assert cents1 == cents2  # bit-identical floats, not approx
    for _, c in cents1:
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-12
    # direct call with a permuted-row copy must also be self-consistent
    mat = [c for _, c in cents1]
    assert deterministic_kmeans(mat, 3) == deterministic_kmeans(mat, 3)

    q = emb.filter("vec_id < 10")
    exact = brute_force_topk(q, emb, k=5).collect()
    approx = ivf_topk(q, emb, k=5, nprobe=4, centroids=cents1).collect()
    exact_set = {(r.query_id, r.match_id) for r in exact}
    approx_set = {(r.query_id, r.match_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"deterministic-KMeans IVF recall too low: {recall}"


def test_embedding_near_dup_pairs_verified(spark):
    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ],
        "vec_id int, embedding array<float>",
    )
    pairs = embedding_near_dup_pairs(df, threshold=0.95, num_planes=8, bands=8).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_embedding_drift_handcomputed(spark):
    """Per-dim drift: exact means per side, shift = mean_b - mean_a
    floor-rounded; a dimension missing on one side surfaces as NULL
    (dimension change is itself drift)."""
    from basis_devkit_spark.operators.embeddings import embedding_drift

    a = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "vec_id long, embedding array<float>"
    )
    b = spark.createDataFrame(
        [(3, [2.0, 2.0, 9.0]), (4, [4.0, 6.0, 11.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r["pos"]: r.asDict() for r in embedding_drift(a, b).collect()}
    assert got[1]["mean_a"] == 2.0 and got[1]["mean_b"] == 3.0
    assert got[1]["shift"] == 1.0
    assert got[2]["shift"] == 1.0  # (2+4)/2=3 -> (2+6)/2=4
    assert got[3]["mean_a"] is None and got[3]["mean_b"] == 10.0
    assert got[3]["shift"] is None


def test_topk_recall_handcomputed(spark):
    """Recall@k eval: hits counted per query, duplicate approx rows
    don't double-count, a query the approx side missed entirely
    reports 0.0 (left-join contract), k truncates both sides by
    rank."""
    from basis_devkit_spark.operators.similarity import topk_recall

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2),
         (3, 30, 1)],
        "query_id long, match_id long, rank int",
    )
    approx = spark.createDataFrame(
        [(1, 10, 1), (1, 99, 2), (1, 12, 3), (1, 12, 4),  # dup hit
         (2, 21, 1), (2, 20, 5)],                         # 20 at rank 5
        "query_id long, match_id long, rank int",
    )
    got = {r["query_id"]: r.asDict() for r in topk_recall(approx, exact).collect()}
    assert got[1]["n_truth"] == 3 and got[1]["n_hit"] == 2
    assert got[1]["recall"] == 0.666667
    assert got[2]["n_hit"] == 2 and got[2]["recall"] == 1.0
    assert got[3] == {"query_id": 3, "n_truth": 1, "n_hit": 0, "recall": 0.0}
    # k=3 truncates the approx side: query 2 loses the rank-5 hit
    got3 = {r["query_id"]: r["n_hit"] for r in
            topk_recall(approx, exact, k=3).collect()}
    assert got3[2] == 1 and got3[1] == 2


def test_semantic_dedup_drops_planted_near_dups(spark):
    """SemDeDup: planted near-copies land in the keeper's cell and are
    dropped; unrelated vectors survive. Deterministic seed centroids."""
    from basis_devkit_spark.operators.similarity import (
        semantic_dedup,
        semantic_dup_pairs,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [0.99, 0.02, 0.0, 0.0]),   # near-dup of 0
        (3, [0.01, 0.998, 0.0, 0.0]),  # near-dup of 1
        (4, [0.0, 0.0, 1.0, 0.0]),     # alone in its neighborhood
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell int, center array<double>",
    )
    pairs = semantic_dup_pairs(df, threshold=0.95, centroids=cents).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(0, 2), (1, 3)}
    survivors = {
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95, centroids=cents).collect()
    }
    assert survivors == {0, 1, 4}


def test_pairwise_jaccard_handcomputed(spark):
    """Exact Jaccard on GIVEN pairs: identical docs 1.0, disjoint 0.0,
    hand-computed partial overlap, a pair referencing an id absent
    from the corpus reports NULL, and shingle explosion is scoped to
    the pair population (semi-join plan gate)."""
    from basis_devkit_spark.operators.dedup import pairwise_jaccard

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),       # shingles: abc bcd cde
            (2, "a b c d e"),       # identical
            (3, "a b c x y"),       # abc bcx cxy -> 1 shared with doc 1
            (4, "zz yy xx ww vv"),  # disjoint
            (5, "never referenced by any pair"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 99)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["exact_jaccard"]
        for r in pairwise_jaccard(docs, pairs).collect()
    }
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.2  # 1 shared / (3 + 3 - 1)
    assert got[(1, 4)] == 0.0
    assert got[(1, 99)] is None  # unknown id -> no size -> NULL
    plan = (
        pairwise_jaccard(docs, pairs)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "LeftSemi" in plan  # docs scoped to the pair population


def test_dedup_keep_by_quality_keeper(spark, docs):
    """r12 keep_by: production dedup keeps the BEST copy of a near-dup
    pair. (a) minhash_dedup(keep_by=) keeps the higher-quality copy of
    a planted pair even when it has the LARGER id; (b) keep_by on a
    -id column reproduces the default min-id output byte-for-byte;
    (c) same contract for semantic_dedup."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.dedup import minhash_dedup
    from basis_devkit_spark.operators.similarity import semantic_dedup

    # (a) planted near-identical pair: id 1 low quality, id 2 high
    base = "the quick brown fox jumps over the lazy dog " * 8
    d = spark.createDataFrame(
        [(1, base + "zz", 0.1), (2, base + "qq", 0.9), (3, "unrelated words entirely", 0.5)],
        "doc_id long, text string, q double",
    )
    kept = {
        r.doc_id
        for r in minhash_dedup(
            d, "doc_id", "text", jaccard_threshold=0.7, keep_by="q"
        ).collect()
    }
    assert kept == {2, 3}  # min-id rule would have kept {1, 3}
    kept_default = {
        r.doc_id
        for r in minhash_dedup(d, "doc_id", "text", jaccard_threshold=0.7).collect()
    }
    assert kept_default == {1, 3}

    # (b) equivalence: keep_by = -id == default, on the real corpus
    corpus = docs.select("doc_id", "text").withColumn(
        "negid", -F.col("doc_id").cast("double")
    )
    a = sorted(
        r.doc_id
        for r in minhash_dedup(
            corpus, "doc_id", "text", jaccard_threshold=0.7
        ).collect()
    )
    b = sorted(
        r.doc_id
        for r in minhash_dedup(
            corpus, "doc_id", "text", jaccard_threshold=0.7, keep_by="negid"
        ).collect()
    )
    assert a == b

    # (c) semantic_dedup: higher-quality copy of the planted pair wins
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0.2),
        (2, [0.99, 0.02, 0.0, 0.0], 0.8),   # near-dup of 0, better
        (4, [0.0, 0.0, 1.0, 0.0], 0.5),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id int, embedding array<float>, q double"
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "cell int, center array<double>"
    )
    got = {
        r.vec_id
        for r in semantic_dedup(
            emb, threshold=0.95, centroids=cents, keep_by="q"
        ).collect()
    }
    assert got == {2, 4}
    negid = emb.withColumn("negid", -F.col("vec_id").cast("double"))
    d_default = {
        r.vec_id
        for r in semantic_dedup(negid, threshold=0.95, centroids=cents).collect()
    }
    d_neg = {
        r.vec_id
        for r in semantic_dedup(
            negid, threshold=0.95, centroids=cents, keep_by="negid"
        ).collect()
    }
    assert d_default == d_neg == {0, 4}


def test_semantic_dedup_kmeans_path_drops_planted(spark):
    """Default (KMeans-quantizer) path: same recall property, no injected
    centroids — covers the trained-quantizer branch."""
    from basis_devkit_spark.operators.similarity import semantic_dedup

    import random

    rng = random.Random(7)
    base = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(40)
    ]
    planted = [
        (i + 1000, [x * 1.02 + 0.003 for x in v]) for i, v in base[:5]
    ]
    df = spark.createDataFrame(
        base + planted, "vec_id int, embedding array<float>"
    )
    survivors = {
        r.vec_id
        for r in semantic_dedup(df, threshold=0.98, nlist=4, seed=1).collect()
    }
    # every planted copy shares a cell with its original (tiny perturbation
    # cannot flip a KMeans assignment at this separation) -> dropped
    assert all(i + 1000 not in survivors for i in range(5))
    assert all(i in survivors for i in range(40))


def test_semantic_dedup_hot_cell_guard_identical_clique(spark):
    """Safety rail: 2k identical vectors would be one quadratic cell; the
    cap drops the cell from pairing (bounded output, documented trade)."""
    from basis_devkit_spark.operators.similarity import semantic_dup_pairs

    df = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(2000)],
        "vec_id int, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "cell int, center array<double>",
    )
    guarded = semantic_dup_pairs(
        df, threshold=0.95, centroids=cents, max_cell_size=100
    )
    assert guarded.count() == 0  # the 2000-member cell is over the cap
    # and a small clique under the cap still pairs fully
    small = df.filter(F.col("vec_id") < 10)
    pairs = semantic_dup_pairs(
        small, threshold=0.95, centroids=cents, max_cell_size=100
    )
    assert pairs.count() == 45  # 10 choose 2


def test_asof_join_matches_naive(spark):
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 15)], "k int, t int"
    )
    right = spark.createDataFrame(
        [(1, 5, "a"), (1, 15, "b"), (2, 99, "z")], "k int, t int, val string"
    )
    got = {
        (r.k, r.t): r.val_right
        for r in as_of_join(left, right, on="k", left_ts="t", value_cols=["val"]).collect()
    }
    assert got == {(1, 10): "a", (1, 20): "b", (2, 15): None}


def test_asof_join_forward(spark):
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1, 5, "past"), (1, 12, "future")], "k int, t int, val string")
    got = as_of_join(left, right, on="k", left_ts="t", direction="forward", value_cols=["val"]).collect()
    assert got[0].val_right == "future"


def test_range_join_matches_naive(spark):
    ev = load(spark, SF, "events")
    clicks = ev.filter("event_type = 'click'").select("user_id", F.col("ts").alias("c_ts"))
    errors = ev.filter("event_type = 'error'").select("user_id", F.col("ts").alias("e_ts"))
    got = range_join(
        clicks, errors, on="user_id", left_ts="c_ts", right_ts="e_ts",
        lower="0 seconds", upper="5 minutes",
    ).count()
    naive = (
        clicks.join(errors, "user_id")
        .filter(
            (F.col("e_ts") >= F.col("c_ts"))
            & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 5 MINUTES"))
        )
        .count()
    )
    assert got == naive


def test_language_id_accuracy(spark, docs):
    """Marker heuristic should beat chance comfortably on the synthetic
    corpus (texts are topic-word soups; en markers dominate)."""
    pred = language_id(docs, "text")
    agree = pred.filter(F.col("lang") == F.col("lang_pred")).count()
    total = pred.count()
    assert agree / total > 0.3, f"lang-id accuracy {agree}/{total}"


def test_text_stats_consistency(spark, docs):
    st = text_stats(docs, "text")
    bad = st.filter(F.col("n_chars_calc") != F.col("n_chars")).count()
    assert bad == 0  # generator's n_chars column must equal length(text)
    r = st.select(F.min("stopword_ratio"), F.max("stopword_ratio")).collect()[0]
    assert 0.0 <= r[0] <= r[1] <= 1.0


def test_quality_score_bounds(spark, docs):
    qs = quality_score(docs, "text")
    r = qs.select(F.min("quality_score"), F.max("quality_score")).collect()[0]
    assert 0.0 <= r[0] <= r[1] <= 1.0


def test_multimodal_decode_plumbing(spark):
    from basis_devkit_spark.operators.multimodal import (
        attach_media_ref,
        decode_images,
        fake_image_features,
        sample_frames,
    )

    df = spark.createDataFrame(
        [("a.png", b"bytes-a"), ("b.jpg", b"bytes-b")], "uri string, content binary"
    )
    media = attach_media_ref(df, "uri", "content")
    row = media.select("media.*").collect()[0]
    assert row.mime == "image/png" and row.size == 7 and row.sha256
    feats = decode_images(
        media, content_col="content", uri_col="media.uri", decode_fn=fake_image_features
    ).collect()
    assert len(feats) == 2 and len(feats[0].features) == 8
    # determinism
    feats2 = decode_images(
        media, content_col="content", uri_col="media.uri", decode_fn=fake_image_features
    ).collect()
    assert sorted(map(repr, feats)) == sorted(map(repr, feats2))
    # default decoder on a non-image blob → NotImplementedError surfaced
    with pytest.raises(Exception, match="NotImplementedError|unsupported image format"):
        decode_images(media, content_col="content", uri_col="media.uri").collect()
    # frame sampling expansion
    vids = spark.createDataFrame([(1, 25)], "vid int, frame_count int")
    idx = [r.frame_index for r in sample_frames(vids, every_n=10).collect()]
    assert idx == [0, 10, 20]


def test_multimodal_resize_plumbing(spark):
    from basis_devkit_spark.operators.multimodal import (
        attach_media_ref,
        fake_resize,
        resize_images,
    )

    df = spark.createDataFrame(
        [("a.png", b"bytes-a"), ("b.jpg", b"bytes-b")], "uri string, content binary"
    )
    media = attach_media_ref(df, "uri", "content")
    got = resize_images(
        media, 8, 4, content_col="content", uri_col="media.uri",
        resize_fn=fake_resize,
    ).collect()
    assert len(got) == 2
    assert all(r.width == 8 and r.height == 4 for r in got)
    assert all(len(r.resized) == 8 * 4 * 3 for r in got)
    # deterministic per input bytes, distinct across inputs
    by_uri = {r.uri: bytes(r.resized) for r in got}
    assert by_uri["a.png"] != by_uri["b.jpg"]
    again = {
        r.uri: bytes(r.resized)
        for r in resize_images(
            media, 8, 4, content_col="content", uri_col="media.uri",
            resize_fn=fake_resize,
        ).collect()
    }
    assert again == by_uri
    # codec boundary: default must refuse rather than fake it
    with pytest.raises(Exception, match="NotImplementedError|resize"):
        resize_images(media, 8, 4, content_col="content", uri_col="media.uri").collect()


def test_parse_image_header_real_formats():
    """The default decode parses REAL header bytes: hand-built PNG/GIF
    and JPEG (including one with leading APP0/comment segments before the
    SOF marker, and a progressive SOF2)."""
    import struct

    from basis_devkit_spark.operators.multimodal import parse_image_header

    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", 640, 480) + bytes([8, 6, 0, 0, 0]) + b"\x00" * 4
    )
    assert parse_image_header(png) == (640, 480, 4)  # RGBA color type 6

    gif = b"GIF87a" + struct.pack("<HH", 320, 200) + b"\x00" * 5
    assert parse_image_header(gif) == (320, 200, 3)

    # baseline JPEG with APP0 + comment before SOF0
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    com = b"\xff\xfe" + struct.pack(">H", 7) + b"hello"
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x03" + b"\x00" * 9
    assert parse_image_header(b"\xff\xd8" + app0 + com + sof0) == (1920, 1080, 3)

    # progressive (SOF2), grayscale
    sof2 = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 64, 128) + b"\x01" + b"\x00" * 3
    assert parse_image_header(b"\xff\xd8" + sof2) == (128, 64, 1)

    with pytest.raises(NotImplementedError):
        parse_image_header(b"RIFF....WEBP")
    with pytest.raises(ValueError):
        parse_image_header(b"\xff\xd8\xff\xe0" + struct.pack(">H", 4) + b"xx")


def test_bench_window_formulations_agree(spark):
    """bench.py's agg-based top-3 must equal the row_number window form."""
    import bench
    from pyspark.sql.window import Window

    sf = SF
    o = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    via_window = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )
    via_agg = bench.window_q({"orders": o}).select(
        "o_custkey", "o_orderkey", "o_totalprice", "rn"
    )
    assert sorted(map(tuple, via_window.collect())) == sorted(
        map(tuple, via_agg.collect())
    )


def test_quantization_roundtrip_error(spark, emb):
    from basis_devkit_spark.operators.embeddings import quantization_error

    err = quantization_error(emb, "embedding")
    mx = err.agg(F.max("max_abs_err")).collect()[0][0]
    # int8 symmetric quantization error bound: scale/2 = amax/254
    amax = 0.5  # embeddings are unit-ish; bound loosely
    assert mx < 0.05, f"quantization error too large: {mx}"


def test_filter_corpus_monotone(spark, docs):
    from basis_devkit_spark.operators.text import filter_corpus

    loose = filter_corpus(docs, min_words=1).count()
    tight = filter_corpus(docs, min_words=30, min_quality=0.5).count()
    assert 0 < tight <= loose <= docs.count()


def test_salted_agg_matches_plain(spark):
    from basis_devkit_spark.operators.skew import salted_agg

    li = load(spark, SF, "lineitem")
    got = {
        r.l_returnflag: (r.sum_l_quantity, r.count_l_quantity)
        for r in salted_agg(
            li, ["l_returnflag"], {"l_quantity": "sum"} | {}, salt=8
        ).join(
            salted_agg(li, ["l_returnflag"], {"l_quantity": "count"}, salt=8),
            "l_returnflag",
        ).collect()
    }
    want = {
        r.l_returnflag: (r.s, r.c)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count("l_quantity").alias("c"))
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-6 and got[k][1] == want[k][1]


def test_salted_join_matches_plain(spark):
    from basis_devkit_spark.operators.skew import salted_join

    o = load(spark, SF, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, SF, "customer").select("c_custkey", "c_mktsegment").withColumnRenamed("c_custkey", "o_custkey")
    got = salted_join(o, c, on="o_custkey", salt=4).count()
    want = o.join(c, "o_custkey").count()
    assert got == want


def test_approx_aggs_within_tolerance(spark):
    """b22's claim: approx_count_distinct within its rsd of exact;
    percentile_approx near exact percentile."""
    o = load(spark, SF, "orders")
    exact = o.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = o.select(F.approx_count_distinct("o_custkey", 0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd margin
    p_exact = o.select(F.percentile("o_totalprice", 0.5)).collect()[0][0]
    p_approx = o.select(F.percentile_approx("o_totalprice", 0.5, 10000)).collect()[0][0]
    assert abs(p_approx - p_exact) / p_exact < 0.01


def test_pack_sequences_partitions_token_budget(spark):
    """Chunks partition the corpus: every doc in exactly one chunk, chunk
    token sums near the budget, ids contiguous across chunk boundaries."""
    from basis_devkit_spark.operators.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (10 + i % 7))) for i in range(200)],
        "doc_id int, text string",
    )
    out = pack_sequences(docs, "doc_id", "text", budget=100).orderBy("chunk_id")
    rows = out.collect()
    assert sum(r.n_docs for r in rows) == 200
    total = sum(r.total_tokens for r in rows)
    assert total == sum(10 + i % 7 for i in range(200))
    # Chunk ids dense from 0; boundaries contiguous in doc order.
    assert [r.chunk_id for r in rows] == list(range(len(rows)))
    for a, b in zip(rows, rows[1:]):
        assert b.first_doc == a.last_doc + 1
    # Exclusive-prefix rule: every chunk except possibly the last starts
    # before its boundary, so token sums hover at/above budget - max_doc.
    for r in rows[:-1]:
        assert r.total_tokens >= 100 - 16


def test_exclusive_prefix_sum_matches_pandas(spark):
    import pandas as pd

    from basis_devkit_spark.operators.text import exclusive_prefix_sum

    pdf = pd.DataFrame({"k": range(1000), "v": [(i * 7) % 13 for i in range(1000)]})
    df = spark.createDataFrame(pdf)
    got = (
        exclusive_prefix_sum(df, "k", "v", "off", bucket_size=64)
        .orderBy("k")
        .toPandas()
    )
    expected = pdf.v.cumsum().shift(1, fill_value=0)
    assert (got.off.values == expected.values).all()


def test_mixture_sample_deterministic_and_monotone(spark):
    from basis_devkit_spark.operators.text import mixture_sample

    docs = spark.createDataFrame(
        [(i, ["en", "de", "zh"][i % 3]) for i in range(3000)],
        "doc_id int, lang string",
    )
    w1 = {"en": 0.3, "de": 0.0, "zh": 1.0}
    s1 = mixture_sample(docs, w1, id_col="doc_id")
    ids1 = {r.doc_id for r in s1.collect()}
    # Deterministic: identical on re-run.
    assert ids1 == {r.doc_id for r in mixture_sample(docs, w1, id_col="doc_id").collect()}
    by_lang = {l: sum(1 for i in ids1 if ["en", "de", "zh"][i % 3] == l)
               for l in ["en", "de", "zh"]}
    assert by_lang["zh"] == 1000           # weight 1.0 keeps everything
    assert by_lang["de"] == 0              # weight 0 drops everything
    assert 200 <= by_lang["en"] <= 400     # ~30% of 1000
    # Monotone: raising a weight only ADDS documents.
    ids2 = {r.doc_id for r in
            mixture_sample(docs, {"en": 0.6, "de": 0.0, "zh": 1.0},
                           id_col="doc_id").collect()}
    assert ids1 <= ids2


def test_ngram_counts_handcomputed(spark):
    from basis_devkit_spark.operators.text import ngram_counts

    docs = [
        (1, "a b a b"),      # grams: "a b", "b a", "a b"
        (2, "a b c"),        # grams: "a b", "b c"
        (3, "x"),            # too short: no grams
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.gram: (r.n_occurrences, r.n_docs)
        for r in ngram_counts(df, "text", n=2, k=10).collect()
    }
    assert got == {"a b": (3, 2), "b a": (1, 1), "b c": (1, 1)}


def test_cross_doc_dup_ngram_frac_handcomputed(spark):
    from basis_devkit_spark.operators.text import cross_doc_dup_ngram_frac

    docs = [
        (1, "a b c d"),   # 3-grams: "a b c", "b c d" — "a b c" shared -> 1/2
        (2, "a b c"),     # "a b c" shared -> 1/1
        (3, "p q r s"),   # none shared -> 0
        (4, "xy"),        # too short -> 0
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.dup_ngram_frac
        for r in cross_doc_dup_ngram_frac(df, "doc_id", "text", n=3).collect()
    }
    assert got == {1: 0.5, 2: 1.0, 3: 0.0, 4: 0.0}


def test_connected_components_long_chain(spark):
    """A 40-node path graph: hash-min label propagation needs O(diameter)
    rounds, so this drives ~39 rounds and ~8 periodic localCheckpoints —
    proves convergence without plan-lineage blowup on chain graphs."""
    from basis_devkit_spark.operators.dedup import connected_components

    n = 40
    edges = [(i, i + 1) for i in range(1, n)]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    out = connected_components(df, "id_a", "id_b", max_iter=n + 5)
    got = {r.node: r.component for r in out.collect()}
    assert got == {i: 1 for i in range(1, n + 1)}
    out.unpersist()


def test_triangle_count_handcomputed(spark):
    """Degree-oriented triangle counting: K4 gives 3 per node, the
    pendant gives 0, duplicate/reversed/self-loop edges are ignored,
    and a star hub (high degree, no closing edges) stays at 0 — the
    orientation case where naive wedge counting explodes."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.graphrank import triangle_count

    edges = [
        # K4 over 1..4 (some reversed/duplicated), pendant 5, self-loop
        (1, 2), (1, 3), (1, 4), (3, 2), (2, 4), (4, 3), (2, 1), (4, 4),
        (4, 5),
        # star hub 10 -> 20..26 (no triangles)
        *[(10, 20 + i) for i in range(7)],
        # one extra triangle hanging off the hub
        (20, 21), (10, 20), (10, 21),
    ]
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got[1] == got[2] == got[3] == 3  # K4: each node in C(3,2)=3
    assert got[4] == 3
    assert got[5] == 0
    assert got[10] == got[20] == got[21] == 1
    assert all(got[22 + i] == 0 for i in range(5))
    # total triangles = sum/3
    assert sum(got.values()) % 3 == 0 and sum(got.values()) // 3 == 5
    plan = (
        triangle_count(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan

    # clustering coefficient: K4 members = 1.0; pendant/degree-1 = 0.0;
    # hub 10 has degree 7 and 1 triangle -> 2/(7*6) = 0.047619
    from basis_devkit_spark.operators.graphrank import (
        clustering_coefficient,
    )

    cc = {
        r["node"]: (r["degree"], r["clustering_coeff"])
        for r in clustering_coefficient(df).collect()
    }
    assert cc[1] == (3, 1.0) and cc[2][1] == 1.0
    assert cc[4] == (4, 0.5)  # degree 4 (K4 + pendant), 3 of 6 pairs close
    assert cc[5] == (1, 0.0)
    assert cc[10] == (7, 0.047619)
    assert cc[20][1] == 1.0  # degree 2, its one pair closes


def test_connected_components_pins_lineage_root_checkpoint(spark):
    """r12 ADVICE fix: on persist()-only rounds the new labels frame's
    recompute lineage is ROOTED at the last localCheckpoint, whose blocks
    are the only copy — so that checkpoint must stay pinned until a newer
    checkpoint supersedes it (previously it was released the moment it
    was superseded as the CURRENT frame, turning any lost cached
    partition into a permanent missing-block failure). Contract: every
    LogicalRDD leaf of the returned frame's plan still has cached
    blocks."""
    from basis_devkit_spark.operators.dedup import connected_components

    # 8-node path: ~8 rounds, one checkpoint round (it=4), converges on a
    # persist round — the returned frame's lineage roots at the checkpoint
    n = 8
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "id_a int, id_b int"
    )
    out = connected_components(df, "id_a", "id_b", max_iter=n + 5)
    assert {r.node: r.component for r in out.collect()} == {
        i: 1 for i in range(1, n + 1)
    }
    cached = {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if i.numCachedPartitions() > 0
    }
    leaves = out._jdf.queryExecution().analyzed().collectLeaves()
    leaf_ids = {
        leaves.apply(i).rdd().id()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getName().endswith("LogicalRDD")
    }
    # leaves include the (uncached, driver-recomputable) createDataFrame
    # source RDD; the CHECKPOINT leaf is the one whose blocks are the
    # only copy — it must still be pinned
    assert leaf_ids & cached, (
        "lineage-root checkpoint was released while still backing the "
        "returned frame"
    )
    out.unpersist()


def test_release_plan_blocks_wrapped_checkpoint_and_cache_precedence(spark):
    """r12 ADVICE fix in lineage.py: (a) a checkpointed frame WRAPPED in
    transformations (select on top) is still released via its LogicalRDD
    leaf — previously only an exact-root match took the backing-RDD path
    and the call silently degraded to the GC fallback; (b) a PERSISTED
    frame derived from a live checkpoint releases only its own cache
    entry, never the shared checkpoint leaf."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.lineage import release_plan_blocks

    def cached_rdd_ids():
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }

    # (a) wrapped checkpoint
    ckpt = spark.range(100).localCheckpoint(eager=True)
    bid = ckpt._jdf.queryExecution().analyzed().rdd().id()
    assert bid in cached_rdd_ids()
    wrapped = ckpt.select((F.col("id") * 2).alias("x")).filter(F.col("x") > 10)
    release_plan_blocks(wrapped)
    assert bid not in cached_rdd_ids()

    # (b) cache-manager precedence protects a shared checkpoint leaf
    ckpt2 = spark.range(100).localCheckpoint(eager=True)
    bid2 = ckpt2._jdf.queryExecution().analyzed().rdd().id()
    derived = ckpt2.select((F.col("id") + 1).alias("y")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    derived.count()
    release_plan_blocks(derived)  # drops the cache entry ONLY
    assert bid2 in cached_rdd_ids(), (
        "releasing a persisted frame must not drop a live shared "
        "checkpoint leaf"
    )
    release_plan_blocks(ckpt2)
    assert bid2 not in cached_rdd_ids()


def test_connected_components_exact_clusters(spark):
    """CC labels match a union-find ground truth on a multi-cluster graph
    with a chain (forces >1 propagation round)."""
    from basis_devkit_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (3, 4), (4, 5),     # chain -> cluster 1
             (10, 11), (11, 12),                  # cluster 10
             (20, 21)]                            # cluster 20
    df = spark.createDataFrame(edges, "id_a int, id_b int")
    got = {r.node: r.component for r in connected_components(df, "id_a", "id_b").collect()}
    # union-find ground truth
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    expected = {n: find(n) for n in parent}
    assert got == expected


def test_redact_pii_shapes(spark):
    from basis_devkit_spark.operators.text import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org now"),
            (2, "ssn 123-45-6789 ok"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text stays"),
        ],
        "id int, text string",
    )
    got = {r.id: r.text for r in redact_pii(docs, "text").collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "ssn <SSN> ok"
    assert got[3] == "call <PHONE> today"
    assert got[4] == "clean text stays"


def test_repetition_stats_bounds_and_extremes(spark):
    from basis_devkit_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, " ".join(["spam"] * 20)),            # maximal repetition
            (2, " ".join(f"w{i}" for i in range(20))),  # all distinct
        ],
        "id int, text string",
    )
    got = {r.id: (r.top_2gram_frac, r.dup_5gram_frac)
           for r in repetition_stats(docs, "text").collect()}
    assert got[1] == (1.0, 0.9375)   # 16 5-grams, 1 distinct
    assert got[2][0] == round(1 / 19, 6) and got[2][1] == 0.0


def test_sniff_format_magic_bytes(spark):
    from basis_devkit_spark.operators.multimodal import sniff_format

    rows = [
        (1, bytes([0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A]) + b"x"),
        (2, b"\xff\xd8\xff\xe0junk"),
        (3, b"GIF89a..."),
        (4, b"RIFF....WAVE"),
        (5, b"ID3\x04tag"),
        (6, b"fLaCdata"),
        (7, b"plain text"),
    ]
    df = spark.createDataFrame(rows, "id int, content binary")
    got = {r.id: r.fmt for r in df.select("id", sniff_format("content").alias("fmt")).collect()}
    assert got == {1: "png", 2: "jpeg", 3: "gif", 4: "riff", 5: "mp3",
                   6: "flac", 7: "bin"}


def test_ngram_contamination_plants(spark):
    """A corpus doc embedding a benchmark passage is flagged with the right
    shared-gram count; clean docs are not."""
    from basis_devkit_spark.operators.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps over something"),
            (2, "completely unrelated words about spark clusters"),
        ],
        "doc_id long, text string",
    )
    out = ngram_contamination(corpus, bench, shingle_size=5, min_overlap=1)
    rows = {r.doc_id: r.shared_grams for r in out.collect()}
    # doc 1 shares exactly "the quick brown fox jumps" (one distinct 5-gram
    # window also slides: "quick brown fox jumps over" = 2 shared 5-grams)
    assert rows == {1: 2}


def test_train_val_test_split_stable_and_exhaustive(spark):
    """Every row gets exactly one label; assignments are deterministic;
    growing val only moves docs train->val (never reshuffles test)."""
    from basis_devkit_spark.operators.text import train_val_test_split

    df = spark.range(0, 2000).select(F.col("id").alias("doc_id"))
    a = train_val_test_split(df, (0.8, 0.1, 0.1))
    counts = {r.split: r.n for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"} and sum(counts.values()) == 2000
    # deterministic across invocations
    b = train_val_test_split(df, (0.8, 0.1, 0.1))
    assert a.exceptAll(b).count() == 0
    # monotone: shrinking train only converts train rows into val rows
    wide = train_val_test_split(df, (0.6, 0.3, 0.1))
    moved = (
        a.alias("x").join(wide.alias("y"), "doc_id")
        .filter(F.col("x.split") != F.col("y.split"))
    )
    assert moved.filter(~((F.col("x.split") == "train") & (F.col("y.split") == "val"))).count() == 0
    with pytest.raises(ValueError):
        train_val_test_split(df, (0.5, 0.1, 0.1))


def test_token_budget_sample_semantics(spark):
    """Kept docs per stratum: greedy by md5 priority until the TOKEN
    budget; a doc is kept iff it starts within budget (≤1 doc overshoot);
    strata without budgets drop; deterministic across runs."""
    from basis_devkit_spark.operators.text import token_budget_sample

    docs = [(i, "en" if i < 20 else "de", "w " * 10 + "end") for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id long, lang string, text string")
    out = token_budget_sample(df, {"en": 44}, stratum_col="lang")
    rows = out.collect()
    assert {r.lang for r in rows} == {"en"}          # de has no budget
    assert all(r.tokens == 11 for r in rows)
    # 44-token budget, 11-token docs: docs starting at 0,11,22,33 -> 4 kept
    assert len(rows) == 4
    again = token_budget_sample(df, {"en": 44}, stratum_col="lang").collect()
    assert {r.doc_id for r in again} == {r.doc_id for r in rows}
    # raising the budget only ADDS documents (monotone like mixture_sample)
    bigger = token_budget_sample(df, {"en": 88}, stratum_col="lang").collect()
    assert {r.doc_id for r in rows} <= {r.doc_id for r in bigger}
    assert len(bigger) == 8


def test_chunk_documents_windows(spark):
    """Chunk boundaries: stride = chunk - overlap; short docs yield one
    chunk; every token appears in some chunk; consecutive chunks share
    exactly `overlap` tokens when full."""
    from basis_devkit_spark.operators.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, text), (2, "just three tokens")], "doc_id long, text string"
    )
    rows = sorted(
        chunk_documents(df, chunk_tokens=10, overlap=4).collect(),
        key=lambda r: (r.doc_id, r.chunk_id),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    # n=25, chunk=10, stride=6 -> ceil((25-10)/6)+1 = 4 chunks
    assert [r.chunk_id for r in d1] == [0, 1, 2, 3]
    assert d1[0].chunk_text.split()[:2] == ["t0", "t1"]
    assert d1[1].chunk_text.split()[0] == "t6"          # starts at stride
    assert d1[0].chunk_text.split()[-4:] == d1[1].chunk_text.split()[:4]
    assert d1[-1].n_tokens == 25 - 3 * 6                # short tail chunk
    covered = {t for r in d1 for t in r.chunk_text.split()}
    assert covered == {f"t{i}" for i in range(25)}
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].n_tokens == 3


def test_stratified_sample_properties(spark, docs):
    """Exactly k per group (or the whole group if smaller), deterministic
    across runs, ranks contiguous from 1."""
    from basis_devkit_spark.operators.text import stratified_sample

    d = docs.select("source", "doc_id", "n_chars")
    s1 = stratified_sample(d, "source", 5)
    rows = s1.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r.sample_rank)
    sizes = {r[0]: r[1] for r in d.groupBy("source").count().collect()}
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, min(5, sizes[src]) + 1))
    # determinism
    s2 = {(r.source, r.doc_id, r.sample_rank) for r in stratified_sample(d, "source", 5).collect()}
    assert {(r.source, r.doc_id, r.sample_rank) for r in rows} == s2


def test_normalize_text_semantics(spark):
    from basis_devkit_spark.operators.text import normalize_text

    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! x9 "), (2, "a-b_c")], "doc_id int, text string"
    )
    got = {r.doc_id: (r.norm_text, r.n_chars_raw, r.n_chars_norm)
           for r in normalize_text(df, "text").collect()}
    assert got[1] == ("hello world x9", 22, 14)
    assert got[2] == ("a b c", 5, 5)


def test_minhash_dedup_against_corpus(spark):
    """Incremental dedup: new docs duplicating the corpus are dropped,
    fresh docs survive, and the persisted-signature path (corpus_sig=)
    matches hashing the corpus in-line."""
    from basis_devkit_spark.operators.dedup import (
        minhash_dedup_against,
        minhash_signatures,
    )

    mk = lambda i, t: (i, t)
    corpus = spark.createDataFrame(
        [
            mk(0, "the quick brown fox jumps over the lazy dog again and again"),
            mk(2, "pack my box with five dozen liquor jugs before noon today"),
        ],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [
            # exact copy of corpus doc 0 -> must be dropped in phase 1
            mk(11, "the quick brown fox jumps over the lazy dog again and again"),
            # unrelated -> survives
            mk(13, "completely different content about spark physical plans"),
            # two copies of each other (not in corpus): keep-one drops 17
            mk(15, "llm training data pipelines need deduplication at scale"),
            mk(17, "llm training data pipelines need deduplication at scale"),
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id
        for r in minhash_dedup_against(
            new, corpus, "doc_id", "text", jaccard_threshold=0.7
        ).collect()
    }
    assert got == {13, 15}
    sig = minhash_signatures(corpus, "doc_id", "text")
    got2 = {
        r.doc_id
        for r in minhash_dedup_against(
            new, None, "doc_id", "text", jaccard_threshold=0.7, corpus_sig=sig
        ).collect()
    }
    assert got2 == got


def test_drop_repeated_lines_handcomputed(spark):
    from basis_devkit_spark.operators.text import drop_repeated_lines

    rows = [
        (1, "unique alpha\nSHARED FOOTER\nunique beta"),
        (2, "different text\nSHARED FOOTER"),
        (3, "SHARED FOOTER"),              # loses everything -> ""
        (4, "standalone document body"),   # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: r.text
        for r in drop_repeated_lines(df, "doc_id", "text").collect()
    }
    assert got == {
        1: "unique alpha\nunique beta",   # order preserved, footer gone
        2: "different text",
        3: "",
        4: "standalone document body",
    }
    # max_occurrences=3 tolerates the 3x footer
    got2 = {
        r.doc_id: r.text
        for r in drop_repeated_lines(
            df, "doc_id", "text", max_occurrences=3
        ).collect()
    }
    assert got2 == {r[0]: r[1] for r in rows}


def test_quality_classifier_separates_planted_classes(spark):
    """Trained quality filter: clean prose vs token-soup gibberish must be
    separable on held-out docs (hashed BoW + logistic regression)."""
    import random

    from basis_devkit_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    rng = random.Random(13)
    clean_vocab = "the of and to in a is that for with on as are was".split()
    junk_vocab = [f"xq{i}zk" for i in range(50)]
    mk = lambda vocab: " ".join(rng.choice(vocab) for _ in range(40))
    rows = [(i, mk(clean_vocab), 1) for i in range(80)]
    rows += [(100 + i, mk(junk_vocab), 0) for i in range(80)]
    df = spark.createDataFrame(rows, "doc_id int, text string, label int")
    train = df.filter(F.col("doc_id") % 2 == 0)
    heldout = df.filter(F.col("doc_id") % 2 == 1)
    model = train_quality_classifier(train, "text", "label")
    scored = score_quality(model, heldout)
    acc = (
        scored.filter(
            ((F.col("quality_prob") >= 0.5) & (F.col("label") == 1))
            | ((F.col("quality_prob") < 0.5) & (F.col("label") == 0))
        ).count()
        / heldout.count()
    )
    assert acc >= 0.9, acc
    kept = score_quality(model, heldout, keep_threshold=0.5)
    assert 0 < kept.count() < heldout.count()
    # scoring is JVM-side: no Python UDF in the plan
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_quality_weighted_sample_monotone_in_alpha_and_quality(spark):
    from basis_devkit_spark.operators.text import (
        quality_score,
        quality_weighted_sample,
    )

    docs = load(spark, SF, "documents")
    q = quality_score(docs, "text")
    n = q.count()
    k1 = quality_weighted_sample(q, alpha=1.0).count()
    k2 = quality_weighted_sample(q, alpha=2.0).count()
    k0 = quality_weighted_sample(q, alpha=0.0).count()  # q^0=1 -> keep all
    assert k0 == n
    assert 0 < k2 <= k1 <= n  # harder skew keeps fewer
    # kept set at alpha=2 is a subset of alpha=1 (same uniform, smaller prob)
    ids1 = {r.doc_id for r in quality_weighted_sample(q, alpha=1.0).select("doc_id").collect()}
    ids2 = {r.doc_id for r in quality_weighted_sample(q, alpha=2.0).select("doc_id").collect()}
    assert ids2 <= ids1
    # mean quality of the kept set does not decrease under the skew
    from pyspark.sql import functions as SF_
    m_all = q.agg(SF_.avg("quality_score")).first()[0]
    m_k2 = quality_weighted_sample(q, alpha=2.0).agg(SF_.avg("quality_score")).first()[0]
    assert m_k2 >= m_all


def test_drop_repeated_lines_properties_random_corpora(spark):
    """Properties on random corpora: output lines ⊆ input lines per doc,
    original order preserved, and the operator is idempotent (a second
    pass with the same threshold removes nothing — survivors are unique
    corpus-wide by construction)."""
    import random

    from basis_devkit_spark.operators.text import drop_repeated_lines

    rng = random.Random(99)
    shared = [f"shared line {i}" for i in range(5)]
    rows = []
    for d in range(60):
        lines = [f"doc{d} unique {i}" for i in range(rng.randint(0, 4))]
        for s in shared:
            if rng.random() < 0.4:
                lines.append(s)
        rng.shuffle(lines)
        rows.append((d, "\n".join(lines)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    once = drop_repeated_lines(df, "doc_id", "text", max_occurrences=1)
    got1 = {r.doc_id: r.text for r in once.collect()}
    orig = dict(rows)
    for d, t in got1.items():
        in_lines = orig[d].split("\n") if orig[d] else []
        out_lines = t.split("\n") if t else []
        # subset, order preserved (subsequence check)
        it = iter(in_lines)
        assert all(any(x == y for y in it) for x in out_lines), (d, t)
    twice = drop_repeated_lines(once, "doc_id", "text", max_occurrences=1)
    got2 = {r.doc_id: r.text for r in twice.collect()}
    assert got2 == got1  # idempotent


def test_corpus_drift_handcomputed(spark):
    from basis_devkit_spark.operators.text import corpus_drift

    a = spark.createDataFrame(
        [(1, "en"), (2, "en"), (3, "fr"), (4, "de")], "doc_id int, lang string"
    )
    b = spark.createDataFrame(
        [(5, "en"), (6, "fr"), (7, "fr"), (8, "zh")], "doc_id int, lang string"
    )
    got = {r.stratum: r for r in corpus_drift(a, b, "lang").collect()}
    assert got["en"].n_a == 2 and got["en"].n_b == 1
    assert abs(got["en"].frac_a - 0.5) < 1e-9 and abs(got["en"].frac_b - 0.25) < 1e-9
    assert got["de"].n_b == 0 and abs(got["de"].frac_b) < 1e-9  # missing stratum -> 0
    assert got["zh"].n_a == 0
    tv = sum(r.abs_diff for r in got.values()) / 2
    assert abs(tv - 0.5) < 1e-6  # hand-computed total variation


def test_gopher_rules_handcomputed(spark):
    from basis_devkit_spark.operators.text import gopher_rules

    good = " ".join(
        ["the", "be", "to", "of", "and"] + ["alpha", "word", "row", "table", "scan"] * 10
    )  # 55 words, all alphabetic, 5 stopwords, mean len ~3.6
    rows = [
        (1, good),
        (2, "short doc"),  # fails word count + stopwords
        (3, " ".join(["#@!"] * 60)),  # symbols, no alpha, no stopwords
        (4, "\n".join(["- bullet %d and the rest of it be to" % i for i in range(10)])),
        (5, good + " " + " ".join(["supercalifragilistic" * 3] * 40)),  # long words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}

    assert out[1]["passes_gopher"] is True
    assert out[1]["n_words"] == 55
    assert out[2]["ok_word_count"] is False
    assert out[2]["ok_stopwords"] is False
    assert out[2]["passes_gopher"] is False
    # doc 3: every "word" is symbols — alpha fraction 0, symbol ratio high
    assert out[3]["ok_alpha_words"] is False
    assert out[3]["ok_symbol_ratio"] is False
    # doc 4: 100% bullet lines
    assert out[4]["ok_bullet_lines"] is False
    # doc 5: mean word length pushed over 10
    assert out[5]["ok_mean_word_len"] is False
    assert out[5]["mean_word_len"] > 10


def test_gopher_rules_flags_conjunction(spark):
    """passes_gopher must equal the AND of every ok_ flag, row by row."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import gopher_rules

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = gopher_rules(df.select("doc_id", "text"))
    ok_cols = [c for c in out.columns if c.startswith("ok_")]
    recomputed = None
    for c in ok_cols:
        recomputed = F.col(c) if recomputed is None else (recomputed & F.col(c))
    assert out.filter(F.col("passes_gopher") != recomputed).count() == 0


def test_sessionize_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1: 3 events within gaps, then a 31-min jump -> 2 sessions
        (1, 1, t0), (2, 1, t0 + 5 * m), (3, 1, t0 + 20 * m),
        (4, 1, t0 + 51 * m),
        # user 2: single event
        (5, 2, t0),
        # user 1 again: exactly 30-min gap is NOT a new session (strict >)
        (6, 1, t0 + 81 * m),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {r["event_id"]: r["session_seq"] for r in sessionize(df).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 2, 5: 1, 6: 2}

    stats = {
        (r["user_id"], r["session_seq"]): r
        for r in session_stats(df).collect()
    }
    assert stats[(1, 1)]["n_events"] == 3
    assert stats[(1, 1)]["duration_us"] == 20 * 60 * 1_000_000
    assert stats[(1, 2)]["n_events"] == 2
    assert stats[(2, 1)]["duration_us"] == 0


def test_funnel_strict_ordering(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # u1 completes a->b->c in order
        (1, "a", t0), (1, "b", t0 + h), (1, "c", t0 + 2 * h),
        # u2 does b BEFORE a: must not count for step 2
        (2, "b", t0), (2, "a", t0 + h),
        # u3 does a only
        (3, "a", t0),
        # u4 does a and c but no b: step 3 requires step 2
        (4, "a", t0), (4, "c", t0 + h),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = {r["step"]: r["users"] for r in funnel(df, ["a", "b", "c"]).collect()}
    assert out == {1: 4, 2: 1, 3: 1}


def test_retention_cohorts_offsets(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import retention_cohorts

    mon = dt.datetime(2024, 1, 1)  # a Monday
    d = dt.timedelta(days=1)
    rows = [
        (1, mon), (1, mon + 8 * d),          # cohort wk0, active offset 0 and 1
        (2, mon + 2 * d),                    # cohort wk0, offset 0 only
        (3, mon + 7 * d), (3, mon + 20 * d), # cohort wk1, offsets 0 and 1
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = {
        (r["cohort"].isoformat(), r["period_offset"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert out == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_event_transitions_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 1, "a", t0), (2, 1, "b", t0 + m), (3, 1, "a", t0 + 2 * m),
        (4, 2, "a", t0), (5, 2, "b", t0 + m),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    out = {
        (r["prev_event"], r["event"]): r["n_transitions"]
        for r in event_transitions(df).collect()
    }
    assert out == {("a", "b"): 2, ("b", "a"): 1}


def test_conversion_latency_strictly_after(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import conversion_latency

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = [
        # u1: signup then purchase 2h later
        (1, "signup", t0), (1, "purchase", t0 + 2 * h),
        # u2: purchase BEFORE signup only -> not converted
        (2, "purchase", t0), (2, "signup", t0 + h),
        # u3: signup, two purchases -> first one counts (1h)
        (3, "signup", t0), (3, "purchase", t0 + h), (3, "purchase", t0 + 5 * h),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    row = conversion_latency(df, "signup", "purchase").collect()[0]
    assert row["n_converted"] == 2
    assert row["min_us"] == 3600 * 1_000_000
    assert row["max_us"] == 2 * 3600 * 1_000_000
    assert row["sum_us"] == 3 * 3600 * 1_000_000


def test_event_ops_broadcast_flag_equivalent(spark):
    """broadcast_user_frames=False (huge-user-dim mode) must be
    result-identical to the broadcast default."""
    from basis_devkit_spark.operators.events import (
        conversion_latency,
        retention_cohorts,
    )
    from basis_devkit_spark.queries import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    ra = sorted(map(tuple, retention_cohorts(ev).collect()))
    rb = sorted(
        map(tuple, retention_cohorts(ev, broadcast_user_frames=False).collect())
    )
    assert ra == rb
    ca = conversion_latency(ev, "signup", "purchase").collect()[0]
    cb = conversion_latency(
        ev, "signup", "purchase", broadcast_user_frames=False
    ).collect()[0]
    assert tuple(ca) == tuple(cb)


def test_sessionize_matches_pandas_model_random(spark):
    """Randomized parity: session assignment equals an independent pandas
    per-user scan model (sorted by ts,event_id; gap strictly > 30 min)."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    from basis_devkit_spark.operators.events import sessionize

    rng = np.random.default_rng(7)
    n = 2000
    base = dt.datetime(2024, 1, 1)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 40, n),
            # lumpy gaps: mostly minutes, occasionally hours
            "ts": [
                base
                + dt.timedelta(
                    seconds=int(x)
                )
                for x in np.cumsum(rng.choice([30, 300, 2400, 7200], n))
            ],
        }
    )
    # shuffle row order so the operator can't rely on input order
    pdf = pdf.sample(frac=1.0, random_state=1).reset_index(drop=True)

    df = spark.createDataFrame(pdf)
    got = {
        r["event_id"]: r["session_seq"] for r in sessionize(df).collect()
    }

    want = {}
    for _, grp in pdf.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
        seq, prev = 0, None
        for _, row in grp.iterrows():
            if prev is None or (row.ts - prev) > dt.timedelta(minutes=30):
                seq += 1
            want[int(row.event_id)] = seq
            prev = row.ts
    assert got == want


def test_session_paths_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import session_paths

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        # u1 session 1: a,b  (order determined by ts)
        (1, 1, "a", t0), (2, 1, "b", t0 + m),
        # u1 session 2 (90-min gap): a,b again
        (3, 1, "a", t0 + 92 * m), (4, 1, "b", t0 + 93 * m),
        # u2: single-event session c
        (5, 2, "c", t0),
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "event_type", "ts"])
    out = [(r["path"], r["n_sessions"]) for r in session_paths(df, k=10).collect()]
    assert out == [("a->b", 2), ("c", 1)]


def _funnel_pandas_model(pdf, steps, within_minutes=None):
    """Independent per-user scan model of the strict-order funnel: step k
    is the earliest step-k event strictly after step k-1 (and, with a
    window, at most ``within_minutes`` after step 1)."""
    import datetime as dt

    want = {k: 0 for k in range(1, len(steps) + 1)}
    for _, g in pdf.groupby("user_id"):
        t_prev = t_first = None
        for k, step in enumerate(steps, start=1):
            sel = g[g.event_type == step]
            if t_prev is not None:
                sel = sel[sel.ts > t_prev]
                if within_minutes is not None:
                    sel = sel[sel.ts <= t_first + dt.timedelta(minutes=within_minutes)]
            if sel.empty:
                break
            t_prev = sel.ts.min()
            if k == 1:
                t_first = t_prev
            want[k] += 1
    return want


def _random_funnel_events(seed, n, n_users):
    import datetime as dt

    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    base = dt.datetime(2024, 1, 1)
    return pd.DataFrame(
        {
            "user_id": rng.integers(0, n_users, n),
            "event_type": rng.choice(["a", "b", "c", "x"], n),
            "ts": [base + dt.timedelta(seconds=int(x)) for x in
                   rng.choice(10**7, n, replace=False)],
        }
    )


def test_funnel_matches_pandas_model_random(spark):
    """Randomized parity: strict-order funnel counts equal an independent
    pandas per-user scan model."""
    from basis_devkit_spark.operators.events import funnel

    pdf = _random_funnel_events(11, 1500, 60)
    steps = ["a", "b", "c"]
    got = {r["step"]: r["users"] for r in funnel(spark.createDataFrame(pdf), steps).collect()}
    assert got == _funnel_pandas_model(pdf, steps)


def test_funnel_within_window(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import funnel

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        # u1 converts within 10 min
        (1, "a", t0), (1, "b", t0 + 5 * m),
        # u2 converts but only after 60 min -> excluded by within=10
        (2, "a", t0), (2, "b", t0 + 60 * m),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    unbounded = {r["step"]: r["users"] for r in funnel(df, ["a", "b"]).collect()}
    bounded = {
        r["step"]: r["users"]
        for r in funnel(df, ["a", "b"], within_minutes=10).collect()
    }
    assert unbounded == {1: 2, 2: 2}
    assert bounded == {1: 2, 2: 1}


def test_funnel_within_window_matches_pandas_model_random(spark):
    """Randomized parity with a bounded conversion window: funnel counts
    equal the pandas per-user model for windows that do and do not bind
    (steps ~19 days apart on average; 7- and 30-day windows)."""
    from basis_devkit_spark.operators.events import funnel

    pdf = _random_funnel_events(23, 1200, 50)
    df = spark.createDataFrame(pdf)
    steps = ["a", "b", "c"]
    unbounded = _funnel_pandas_model(pdf, steps)
    for within in (7 * 1440, 30 * 1440):
        want = _funnel_pandas_model(pdf, steps, within)
        assert want != unbounded  # the window binds on this data
        got = {
            r["step"]: r["users"]
            for r in funnel(df, steps, within_minutes=within).collect()
        }
        assert got == want, within


def test_funnel_edge_cases_match_oracle_sql(spark):
    """The e02/e02b oracle SQL (DuckDB) defines the funnel on the cases a
    per-user fold can get wrong: no step events (0, not NULL), a NULL
    user (step 1 only), NULL ts (counts at step 1, anchors nothing), a
    repeated step and equal timestamps (strictly later only). The output
    schema stays non-nullable in every case."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    from pyspark.sql import types as T

    from basis_devkit_spark.operators.events import funnel
    from basis_devkit_spark.queries import all_queries

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    frames = {
        "no_step_events": [(1, "signup", t0), (2, "error", t0 + m)],
        "null_user": [
            (None, "view", t0), (None, "click", t0 + m),
            (None, "purchase", t0 + 2 * m),
            (1, "view", t0), (1, "click", t0 + m),
        ],
        "null_ts": [
            # only a NULL-ts first step: step 1, nothing later
            (1, "view", None), (1, "click", t0), (1, "purchase", t0 + m),
            # NULL-ts and dated first steps: MIN ignores the NULL
            (2, "view", None), (2, "view", t0), (2, "click", t0 + m),
            (2, "purchase", None),
            # NULL-ts later step never qualifies
            (3, "view", t0), (3, "click", None), (3, "click", t0 + 2 * m),
            (3, "purchase", t0 + 90 * m),
            (4, "view", None), (4, "click", None),
        ],
        "repeated_step": [
            (1, "view", t0), (1, "view", t0), (1, "purchase", t0 + m),
            (2, "view", t0), (2, "view", t0 + m), (2, "purchase", t0 + 2 * m),
            (3, "view", t0), (3, "view", t0 + 61 * m),
            (3, "purchase", t0 + 62 * m),
            # a NULL-ts step 1 anchors no repeat of itself
            (4, "view", None), (4, "view", None),
        ],
        "equal_ts": [
            (1, "view", t0), (1, "click", t0), (1, "purchase", t0 + m),
            (2, "view", t0), (2, "click", t0 + m), (2, "purchase", t0 + m),
            (3, "click", t0), (3, "view", t0), (3, "click", t0 + 60 * m),
            (3, "purchase", t0 + 61 * m),
        ],
    }
    queries = all_queries()
    schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ])
    want_schema = T.StructType([
        T.StructField("step", T.IntegerType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("users", T.LongType(), False),
    ])
    for name, rows in frames.items():
        df = spark.createDataFrame(rows, schema)
        con = duckdb.connect()
        con.register(
            "events",
            pa.table({
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[1] for r in rows], pa.string()),
                "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
            }),
        )
        # the repeated-step frame runs the funnel view -> view -> purchase
        steps = ["view", "view" if name == "repeated_step" else "click", "purchase"]
        for within in (None, 60):
            sql = (
                queries["e02_funnel"].oracle_text()
                if within is None
                else queries["e02b_funnel_within_window"].oracle_text().replace(
                    "interval 1440 minute", f"interval {within} minute"
                )
            ).replace("'click'", f"'{steps[1]}'")
            want = sorted(con.execute(sql).fetchall())
            out = funnel(df, steps, within_minutes=within)
            assert out.schema == want_schema, (name, within)
            got = sorted(map(tuple, out.collect()))
            assert got == want, (name, within, got, want)
        con.close()


def test_rfm_profiles_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import rfm_profiles

    t0 = dt.datetime(2024, 1, 1)
    d = dt.timedelta(days=1)
    rows = [
        (1, "view", t0, 10.0),
        (1, "purchase", t0 + d, 25.5),
        (1, "purchase", t0 + 3 * d, 4.5),   # corpus max ts
        (2, "view", t0, 99.0),              # no purchases -> monetary 0
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "value"])
    out = {r["user_id"]: r for r in rfm_profiles(df).collect()}
    assert out[1]["recency_days"] == 0 and out[1]["frequency"] == 3
    assert out[1]["monetary"] == 30.0
    assert out[2]["recency_days"] == 3 and out[2]["frequency"] == 1
    assert out[2]["monetary"] == 0.0


def test_time_bucket_gapfill_modes(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import time_bucket_gapfill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    h = dt.timedelta(hours=1)
    rows = [
        (1, t0, 2.0),            # hour 0
        (1, t0 + 3 * h, 5.0),    # hour 3 -> gaps at 1,2
        (2, t0 + 1 * h, 7.0),    # hour 1 -> leading gap at 0, trailing 2,3
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])

    locf = {(r["user_id"], r["bucket_ts"].hour): (r["v"], r["filled"])
            for r in time_bucket_gapfill(df).collect()}
    assert len(locf) == 8  # 2 users x 4 hourly slots (global range)
    assert locf[(1, 1)] == (None, 2.0) and locf[(1, 2)] == (None, 2.0)
    assert locf[(1, 3)] == (5.0, 5.0)
    assert locf[(2, 0)] == (None, None)  # leading gap stays NULL
    assert locf[(2, 3)] == (None, 7.0)

    zero = time_bucket_gapfill(df, fill="zero")
    assert zero.filter(F.col("filled").isNull()).count() == 0
    null_mode = time_bucket_gapfill(df, fill="null")
    assert null_mode.filter(F.col("v").isNull() & F.col("filled").isNotNull()).count() == 0


def test_time_bucket_gapfill_interp(spark):
    import datetime as dt

    from basis_devkit_spark.operators.timeseries import time_bucket_gapfill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    h = dt.timedelta(hours=1)
    rows = [(1, t0, 2.0), (1, t0 + 3 * h, 5.0), (2, t0 + h, 7.0)]
    df = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {(r["user_id"], r["bucket_ts"].hour): r["filled"]
           for r in time_bucket_gapfill(df, fill="interp").collect()}
    # linear between 2.0@h0 and 5.0@h3
    assert out[(1, 1)] == 3.0 and out[(1, 2)] == 4.0
    # edge gaps (single neighbor) stay NULL
    assert out[(2, 0)] is None and out[(2, 3)] is None


def test_zscore_anomalies_baseline_exclusion(spark):
    """A spike is flagged against its PRECEDING baseline only; thin or
    zero-variance baselines yield no flag."""
    import datetime as dt

    from basis_devkit_spark.operators.timeseries import zscore_anomalies

    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    rows = []
    # user 1: 23 hours alternating 1/2 events, then a 40-event spike
    for i in range(23):
        rows.append((1, t0 + i * h))
        if i % 2 == 0:
            rows.append((1, t0 + i * h + dt.timedelta(minutes=5)))
    for j in range(40):
        rows.append((1, t0 + 23 * h + dt.timedelta(minutes=j)))
    # user 2: constant rate (zero variance) then a spike -> NOT flagged
    for i in range(23):
        rows.append((2, t0 + i * h))
    for j in range(10):
        rows.append((2, t0 + 23 * h + dt.timedelta(minutes=j)))
    df = spark.createDataFrame([(u, t, "view") for u, t in rows],
                               ["user_id", "ts", "event_type"])
    out = {(r["user_id"], r["bucket_ts"].hour): r["zscore"]
           for r in zscore_anomalies(df, threshold=3.0).collect()}
    assert (1, 23) in out and out[(1, 23)] > 3
    assert not any(u == 2 for u, _ in out)  # sd=0 baseline -> NULL z


def test_weighted_reservoir_properties(spark):
    """A-Res: exact k, no replacement, weight-monotone inclusion (heavier
    duplicate of the same uniform beats lighter), deterministic."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import weighted_reservoir_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        # weights 1..4: ids 0-249 -> 1, 250-499 -> 2, ...
        (F.floor(F.col("id") / 250) + 1).cast("double").alias("w"),
    )
    out = weighted_reservoir_sample(df, "w", 100)
    rows = out.collect()
    assert len(rows) == 100
    assert len({r["doc_id"] for r in rows}) == 100  # without replacement
    # determinism
    again = weighted_reservoir_sample(df, "w", 100).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(r["doc_id"] for r in again)
    # heavier strata should be overrepresented vs uniform expectation
    by_w = {w: 0 for w in (1.0, 2.0, 3.0, 4.0)}
    for r in rows:
        by_w[r["w"]] += 1
    assert by_w[4.0] > by_w[1.0]
    assert by_w[4.0] + by_w[3.0] > by_w[1.0] + by_w[2.0]


def test_weighted_reservoir_grouped_properties_and_plan(spark):
    """Stratified A-Res (d46): exact min(k, |stratum|) per group, no
    replacement, within-group agreement with the GLOBAL form restricted
    to that group (same key, same tie-break), deterministic, and the
    plan carries no Window (two-phase agg top-k only)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        weighted_reservoir_sample,
        weighted_reservoir_sample_grouped,
    )

    df = spark.range(900).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        ((F.col("id") % 7) + 1).cast("double").alias("w"),
    ).unionByName(
        # a tiny stratum smaller than k
        spark.createDataFrame(
            [(9001, "tiny", 5.0), (9002, "tiny", 1.0)],
            "doc_id long, grp string, w double",
        )
    )
    out = weighted_reservoir_sample_grouped(df, "w", 50, group_col="grp")
    rows = out.collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["grp"], []).append(r)
    assert {g: len(v) for g, v in by_g.items()} == {
        "0": 50, "1": 50, "2": 50, "tiny": 2
    }
    assert len({r["doc_id"] for r in rows}) == len(rows)  # no replacement
    for g, v in by_g.items():
        assert sorted(r["rank"] for r in v) == list(range(1, len(v) + 1))
        # within-group equivalence with the global form on that stratum
        solo = weighted_reservoir_sample(
            df.filter(F.col("grp") == g), "w", 50
        ).collect()
        assert sorted(r["doc_id"] for r in v) == sorted(
            r["doc_id"] for r in solo
        )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_grouped_topk_bounded_merge_tree_equivalence(spark):
    """The bounded merge tree (r12): with merge_fanin smaller than the
    partition count, _grouped_topk inserts `__pid div fanin` fold levels
    so no merge buffer flattens more than fanin arrays — and the result
    is EXACTLY the flat single-level merge's (top-k is associative).
    Exercises a skewed input where one group spans every partition."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        stratified_sample,
        weighted_reservoir_sample_grouped,
    )

    df = (
        spark.range(2000)
        .select(
            F.col("id").alias("doc_id"),
            # group "hot" covers 90% of rows and every partition
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.lit("cold"))
            .alias("grp"),
            ((F.col("id") % 11) + 1).cast("double").alias("w"),
        )
        .repartition(40)
    )
    flat = weighted_reservoir_sample_grouped(
        df, "w", 7, group_col="grp", merge_fanin=1024
    )
    deep = weighted_reservoir_sample_grouped(
        df, "w", 7, group_col="grp", merge_fanin=2
    )
    key = lambda r: (r["grp"], r["doc_id"], r["rank"])  # noqa: E731
    assert sorted(map(key, flat.collect())) == sorted(map(key, deep.collect()))
    # the deep tree really has extra merge levels (more aggregate phases)
    p_flat = flat._jdf.queryExecution().executedPlan().toString()
    p_deep = deep._jdf.queryExecution().executedPlan().toString()
    assert p_deep.count("HashAggregate") > p_flat.count("HashAggregate")
    assert "Window" not in p_deep

    s_flat = stratified_sample(df, "grp", 7, merge_fanin=1024)
    s_deep = stratified_sample(df, "grp", 7, merge_fanin=3)
    k2 = lambda r: (r["grp"], r["doc_id"], r["sample_rank"])  # noqa: E731
    assert sorted(map(k2, s_flat.collect())) == sorted(
        map(k2, s_deep.collect())
    )


def test_registrable_domain_psl_semantics(spark):
    """eTLD+1 under the PSL algorithm: longest-match multi-label
    suffixes (ccTLD registries + private shared hosts), default rule
    for unknown TLDs, host-is-suffix/single-label/junk edge cases,
    case + trailing-dot + userinfo/port normalization."""
    from basis_devkit_spark.operators.domains import registrable_domain

    cases = [
        (1, "https://a.b.example.co.uk/p?q=1", "a.b.example.co.uk", "example.co.uk"),
        (2, "http://www.example.com/x", "www.example.com", "example.com"),
        (3, "https://foo.github.io/repo", "foo.github.io", "foo.github.io"),
        (4, "https://github.io/", "github.io", "github.io"),
        (5, "http://d.bucket.s3.amazonaws.com/k", "d.bucket.s3.amazonaws.com",
         "bucket.s3.amazonaws.com"),
        (6, "https://example.io", "example.io", "example.io"),
        (7, "https://weird.unknowntld", "weird.unknowntld", "weird.unknowntld"),
        (8, "not a url", None, None),
        (9, None, None, None),
        (10, "https://u:p@host.example.org:8443/a", "host.example.org",
         "example.org"),
        (11, "https://Example.COM./t", "example.com", "example.com"),
        (12, "https://localhost/x", "localhost", "localhost"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _, _ in cases], "doc_id long, url string"
    )
    out = registrable_domain(df, "url", host_col="host")
    got = {r.doc_id: (r.host, r.domain) for r in out.collect()}
    for i, _, host, dom in cases:
        assert got[i] == (host, dom), (i, got[i], (host, dom))
    # pure projection: no shuffle, no join, no Python
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan
    # custom suffix list overrides the built-in set
    alt = registrable_domain(df, "url", suffixes=["unknowntld", "x.y"])
    got7 = {r.doc_id: r.domain for r in alt.collect()}[7]
    # single-label entries are redundant (default rule) and ignored
    assert got7 == "weird.unknowntld"


def test_registrable_domain_wildcard_exception_and_psl_parser(spark):
    """Full PSL rule semantics: wildcard rules (*.ck — any 2-label
    name under ck is a suffix), exception rules (!www.ck prevails:
    the exception IS the registrable domain), exceptions beating
    wildcards at any host depth, plus parse_psl round-tripping the
    real file format (comments, sections, markers) including a 4-label
    wildcard rule."""
    from basis_devkit_spark.operators.domains import (
        parse_psl,
        registrable_domain,
    )

    cases = [
        # *.ck: suffix = foo.ck, eTLD+1 = site.foo.ck
        (1, "https://a.site.foo.ck/x", "site.foo.ck"),
        (2, "https://site.foo.ck/", "site.foo.ck"),
        # host IS the wildcard suffix -> host itself
        (3, "https://foo.ck/", "foo.ck"),
        # !www.ck: the exception is the registrable domain
        (4, "https://www.ck/", "www.ck"),
        (5, "https://deep.a.www.ck/x", "www.ck"),
        # other wildcard TLDs from the built-in set
        (6, "https://x.gov.bd/", "x.gov.bd"),
        (7, "https://portal.edu.np/", "portal.edu.np"),
        # co.uk / com.au / github.io sanity alongside the wildcards
        (8, "https://a.shop.co.uk/", "shop.co.uk"),
        (9, "https://b.firm.com.au/", "firm.com.au"),
        (10, "https://user.github.io/repo", "user.github.io"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    got = {r.doc_id: r.domain
           for r in registrable_domain(df, "url").collect()}
    for i, _, dom in cases:
        assert got[i] == dom, (i, got[i], dom)
    # parse_psl: real file format, both sections, markers kept
    psl_text = """\
// This is a comment
// ===BEGIN ICANN DOMAINS===
com
co.uk
*.ck
!www.ck
*.compute.example-cloud.test
// ===END ICANN DOMAINS===
// ===BEGIN PRIVATE DOMAINS===
github.io
// ===END PRIVATE DOMAINS===
"""
    rules = parse_psl(psl_text)
    assert rules == ["com", "co.uk", "*.ck", "!www.ck",
                     "*.compute.example-cloud.test", "github.io"]
    assert parse_psl(psl_text, include_private=False) == [
        "com", "co.uk", "*.ck", "!www.ck",
        "*.compute.example-cloud.test",
    ]
    # the parsed rules drive the matcher, incl. the 4-label wildcard
    deep = spark.createDataFrame(
        [(1, "https://a.b.zone1.compute.example-cloud.test/x"),
         (2, "https://user.github.io/x")],
        "doc_id long, url string",
    )
    got2 = {r.doc_id: r.domain
            for r in registrable_domain(deep, "url",
                                        suffixes=rules).collect()}
    assert got2[1] == "b.zone1.compute.example-cloud.test"
    assert got2[2] == "user.github.io"
    icann_only = {r.doc_id: r.domain
                  for r in registrable_domain(
                      deep, "url",
                      suffixes=parse_psl(psl_text, include_private=False),
                  ).collect()}
    assert icann_only[2] == "github.io"  # private section excluded


def test_url_features_semantics(spark):
    """URL-shape filter signals: depth / params / extension / homepage /
    host labels / digit fraction, NULL-gated on the host, pure
    projection."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.domains import url_features

    cases = [
        (1, "https://a.example.com/"),
        (2, "https://a.example.com/x/y/page-9.html"),
        (3, "https://a.example.com/doc/3?q=1&lang=en&z="),
        (4, "https://h0st123.example.com"),
        (5, "https://a.example.com/f.PDF?x=1"),
        (6, "junk"),
        (7, None),
        (8, "https://a.example.com/x/"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, url string")
    out = url_features(df, "url")
    got = {r.doc_id: r.asDict() for r in out.collect()}
    assert got[1]["path_depth"] == 0 and got[1]["is_homepage"] == 1
    assert got[2]["path_depth"] == 3 and got[2]["file_ext"] == "html"
    assert got[2]["is_homepage"] == 0 and got[2]["n_query_params"] == 0
    assert got[3]["n_query_params"] == 3 and got[3]["file_ext"] is None
    assert got[4]["is_homepage"] == 1 and got[4]["n_host_labels"] == 3
    # "h0st123" carries 4 digit chars over the 19-char host
    assert abs(got[4]["host_digit_fraction"] - 4 / 19) < 1e-6
    assert got[5]["file_ext"] == "pdf" and got[5]["is_homepage"] == 0
    for junk in (6, 7):
        for c in ("host", "path_depth", "n_query_params", "file_ext",
                  "is_homepage", "n_host_labels", "host_digit_fraction",
                  "url_chars"):
            assert got[junk][c] is None, (junk, c, got[junk][c])
    assert got[8]["path_depth"] == 1 and got[8]["file_ext"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan


def test_domain_cap_properties(spark, docs):
    """RefinedWeb-style per-domain cap: <= k rows per registrable
    domain, deterministic, NULL-domain rows pass through uncapped with
    NULL rank, keep_by prefers high-weight docs, and the plan carries
    no Window (bounded grouped-reservoir shape)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.domains import domain_cap

    url = F.when(F.col("doc_id") % 11 == 0, F.lit("junk")).otherwise(
        F.concat(
            F.lit("https://w"), (F.col("doc_id") % 3).cast("string"),
            F.lit("."), F.lower("source"),
            F.when(F.col("doc_id") % 2 == 0, F.lit(".com")).otherwise(
                F.lit(".co.uk")
            ),
            F.lit("/d/"), F.col("doc_id").cast("string"),
        )
    )
    d = docs.withColumn("url", url).withColumn(
        "w", (F.col("doc_id") % 9 + 1).cast("double")
    )
    out = domain_cap(d, "url", max_per_domain=4, keep_by="w")
    rows = out.collect()
    per_dom = {}
    for r in rows:
        if r["domain"] is not None:
            per_dom.setdefault(r["domain"], []).append(r)
        else:
            assert r["domain_rank"] is None
    assert all(len(v) <= 4 for v in per_dom.values())
    for v in per_dom.values():
        assert sorted(r["domain_rank"] for r in v) == list(
            range(1, len(v) + 1)
        )
    # NULL-domain rows pass through uncapped
    n_junk = d.filter(F.col("doc_id") % 11 == 0).count()
    assert sum(1 for r in rows if r["domain"] is None) == n_junk
    # deterministic
    again = {(r["doc_id"], r["domain_rank"]) for r in
             domain_cap(d, "url", max_per_domain=4, keep_by="w").collect()}
    assert {(r["doc_id"], r["domain_rank"]) for r in rows} == again
    # no window / no python in the capped path
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "EvalPython" not in plan
    # keep_by=None is the uniform deterministic cap (equal-weight A-Res):
    # exactly min(4, |domain|) per domain
    from basis_devkit_spark.operators.domains import registrable_domain

    sizes = {
        r["domain"]: r["count"]
        for r in registrable_domain(d, "url")
        .filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .count()
        .collect()
    }
    uni = domain_cap(d, "url", max_per_domain=4)
    got_sizes = {
        r["domain"]: r["count"]
        for r in uni.filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .count()
        .collect()
    }
    assert got_sizes == {dom: min(4, n) for dom, n in sizes.items()}


def test_weighted_reservoir_grouped_preserves_id_type(spark):
    """String (UUID-like) ids survive intact (r12, ADVICE fix): the sort
    struct no longer casts the id to long — output id column keeps the
    input type and values, ties break on the original orderable value."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        weighted_reservoir_sample,
        weighted_reservoir_sample_grouped,
    )

    df = spark.range(300).select(
        F.concat(F.lit("u-"), F.lpad(F.col("id").cast("string"), 5, "0")).alias(
            "uid"
        ),
        (F.col("id") % 2).cast("string").alias("grp"),
        ((F.col("id") % 5) + 1).cast("double").alias("w"),
    )
    out = weighted_reservoir_sample_grouped(
        df, "w", 10, group_col="grp", id_col="uid"
    )
    assert dict(out.dtypes)["uid"] == "string"
    rows = out.collect()
    ids = {r["uid"] for r in rows}
    assert len(rows) == 20 and len(ids) == 20
    assert all(i.startswith("u-") for i in ids)
    # within-group equivalence with the global form still holds for
    # string ids (same key, same tie-break on the original value)
    for g in ("0", "1"):
        solo = weighted_reservoir_sample(
            df.filter(F.col("grp") == g), "w", 10, id_col="uid"
        ).collect()
        assert sorted(r["uid"] for r in rows if r["grp"] == g) == sorted(
            r["uid"] for r in solo
        )


def test_wav_header_fields_parse(spark):
    import struct

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.multimodal import wav_header_fields

    def hdr(ch, rate, bits=16):
        br = rate * ch * bits // 8
        return (
            b"RIFF" + struct.pack("<I", 0) + b"WAVE" + b"fmt "
            + struct.pack("<IHHIIHH", 16, 1, ch, rate, br, ch * bits // 8, bits)
            + b"data" + struct.pack("<I", 0)
        )

    rows = [
        (1, hdr(1, 8000) + b"\x00" * 16000),     # exactly 1 s mono 8 kHz
        (2, hdr(2, 44100) + b"\x00" * 352800),   # exactly 2 s stereo 44.1 kHz
        (3, b"RIFFxxxxAVI LIST"),                # RIFF but not WAVE
        (4, b"plainbytes"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, content binary")
    out = {
        r["doc_id"]: r
        for r in df.select("doc_id", wav_header_fields("content").alias("w"))
        .select("doc_id", "w.*")
        .collect()
    }
    assert out[1]["is_wav"] and (out[1]["channels"], out[1]["sample_rate"]) == (1, 8000)
    assert out[2]["byte_rate"] == 176400 and out[2]["bits"] == 16
    assert out[3]["is_wav"] is False and out[3]["sample_rate"] is None
    assert out[4]["is_wav"] is False


def test_mp4_ftyp_fields_parse(spark):
    """ISO-BMFF ftyp parse: brands/versions recovered from hand-built
    boxes; wrong-magic, truncated, and misaligned-size blobs rejected
    with NULL fields; the listed brand csv is capped at max_brands
    while the count stays exact. Pure projection (no shuffle/UDF)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.multimodal import mp4_ftyp_fields

    def box(major, minor, brands):
        p = (b"ftyp" + major.encode() + minor.to_bytes(4, "big")
             + b"".join(b.encode() for b in brands))
        return (4 + len(p)).to_bytes(4, "big") + p

    rows = [
        (1, box("isom", 512, ["isom", "iso2", "avc1", "mp41"]) + b"xx"),
        (2, box("M4A ", 0, ["M4A "])),
        (3, box("heic", 7, [])),                       # zero brands
        (4, box("qt  ", 0, ["qt  ", "isom", "iso2", "avc1", "mp41"])),
        (5, b"fLaC" + b"\x00" * 20),                   # wrong magic
        (6, b"\x00\x00\x00\x08ftyp"),                  # size 8 < 16
        (7, (18).to_bytes(4, "big") + b"ftypisom\x00\x00\x00\x00xy"),  # !%4
        (8, b"\x00\x00\x00"),                          # truncated
    ]
    df = spark.createDataFrame(rows, "i int, content binary")
    out = df.select("i", mp4_ftyp_fields("content").alias("s")).select(
        "i", "s.*"
    )
    got = {r["i"]: r.asDict() for r in out.collect()}
    assert got[1]["is_isobmff"] and got[1]["major_brand"] == "isom"
    assert got[1]["minor_version"] == 512
    assert got[1]["n_compatible_brands"] == 4
    assert got[1]["brands_csv"] == "isom,iso2,avc1,mp41"
    assert got[2]["major_brand"] == "M4A " and got[2]["n_compatible_brands"] == 1
    assert got[3]["n_compatible_brands"] == 0 and got[3]["brands_csv"] == ""
    assert got[3]["minor_version"] == 7
    # brand list longer than the cap: csv lists 4, count says 5
    assert got[4]["n_compatible_brands"] == 5
    assert got[4]["brands_csv"] == "qt  ,isom,iso2,avc1"
    for bad in (5, 6, 7, 8):
        assert not got[bad]["is_isobmff"], bad
        assert got[bad]["major_brand"] is None
        assert got[bad]["n_compatible_brands"] is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_flac_streaminfo_fields_parse(spark):
    """d05e bit surgery against a hand-built spec-conformant header
    (RFC 9639): 20-bit sample rate, 3-bit channels, 5-bit bps, 36-bit
    total samples — including the >2^32 count that spans the nibble
    boundary — plus rejections: wrong magic, and fLaC whose first block
    is NOT STREAMINFO."""
    from basis_devkit_spark.operators.multimodal import flac_streaminfo_fields

    def hdr(sr, ch, bps, total, block_type=0):
        h = b"fLaC" + bytes([0x80 | block_type]) + (34).to_bytes(3, "big")
        si = (4096).to_bytes(2, "big") * 2 + (0).to_bytes(3, "big") * 2
        packed = (sr << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
        return h + si + packed.to_bytes(8, "big") + bytes(16)

    rows = [
        (1, hdr(44100, 2, 16, 441000)),
        (2, hdr(96000, 8, 32, (1 << 33) + 7)),   # field maxima + >2^32
        (3, hdr(192000, 1, 4, 0)),               # sr needs >16 bits; 0 samples
        (4, b"fLaX" + bytes(40)),                # wrong magic
        (5, hdr(44100, 2, 16, 1, block_type=4)), # first block not STREAMINFO
    ]
    df = spark.createDataFrame(rows, "doc_id int, content binary")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", flac_streaminfo_fields("content").alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1]["is_flac"] and (
        out[1]["sample_rate"], out[1]["channels"], out[1]["bits"],
        out[1]["total_samples"],
    ) == (44100, 2, 16, 441000)
    assert (out[2]["channels"], out[2]["bits"], out[2]["total_samples"]) == (
        8, 32, (1 << 33) + 7
    )
    assert (out[3]["sample_rate"], out[3]["total_samples"]) == (192000, 0)
    assert out[4]["is_flac"] is False and out[4]["sample_rate"] is None
    assert out[5]["is_flac"] is False and out[5]["total_samples"] is None


def test_repetition_signals_handcomputed(spark):
    """d44 against hand-computed values on planted repetitive docs —
    the sf corpora are near-repetition-free, so the oracle sweep alone
    never exercises nonzero fractions."""
    from basis_devkit_spark.operators.text import repetition_signals

    rows = [
        # 4 lines, "ab" twice (1 dup of 2 chars; 2+3+2+4=11 chars);
        # bigrams of "x y x y x": (x y)x2, (y x)x2 -> tie broken to
        # smallest gram "x y", count 2 of 4
        (1, "ab\nabc\nab\nabcd\nx y x y x"),
        (2, "one two three"),       # no repetition: top bigram count 1
        (3, "same\nsame\nsame"),    # all dup lines: 2/3, 8/12 chars
        (4, ""),                    # empty: all zeros
        (5, None),                  # null text: all zeros
        (6, "word"),                # one word: no bigram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    # doc 1: lines [ab, abc, ab, abcd] -> 1 dup of 4 lines = 0.25;
    # wait — doc 1 text also has the 'x y x y x' line (5 lines total)
    assert out[1]["dup_line_fraction"] == round(1 / 5 * 1e6) / 1e6
    # chars: 2+3+2+4+9=20, distinct copy chars: 2+3+4+9=18 -> 2/20
    assert out[1]["dup_line_char_fraction"] == 0.1
    assert out[1]["top_bigram_count"] == 2
    assert out[2] ["dup_line_fraction"] == 0.0
    assert out[2]["top_bigram_count"] == 1
    assert out[2]["top_bigram_fraction"] == 0.5
    assert out[3]["dup_line_fraction"] == round(2 / 3 * 1e6 + 0.5) / 1e6
    assert out[3]["dup_line_char_fraction"] == round(8 / 12 * 1e6 + 0.5) / 1e6
    for i in (4, 5):
        assert (
            out[i]["dup_line_fraction"], out[i]["dup_line_char_fraction"],
            out[i]["top_bigram_count"], out[i]["top_bigram_fraction"],
        ) == (0.0, 0.0, 0, 0.0)
    assert out[6]["top_bigram_count"] == 0


def test_gopher_rules_matches_python_model_random(spark):
    """Randomized parity: every flag equals an independent pure-Python
    implementation of the rule set on 300 random docs."""
    import math

    import numpy as np

    from basis_devkit_spark.operators.text import gopher_rules

    rng = np.random.default_rng(31)
    vocab = ["the", "a", "data", "spark", "x1", "##", "...", "word",
             "supercalifragilisticexpialidocious", "-", "*", "9"]
    docs = []
    for i in range(300):
        n = int(rng.integers(1, 120))
        words = [vocab[int(k)] for k in rng.integers(0, len(vocab), n)]
        lines = []
        j = 0
        while j < len(words):
            take = int(rng.integers(1, 12))
            lines.append(" ".join(words[j : j + take]))
            j += take
        docs.append((i, "\n".join(lines)))

    out = {r["doc_id"]: r for r in gopher_rules(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        min_words=30, stopwords=["the", "a"],
    ).collect()}

    for i, text in docs:
        words = text.strip().split()
        words = [w for w in " ".join(words).split(" ") if w != ""] or [""]
        nw = max(len(words), 1)
        mean_wl = math.floor(sum(len(w) for w in words) / nw * 1e6 + 0.5) / 1e6
        n_hash = text.count("#")
        n_ell = (len(text) - len(text.replace("...", ""))) / 3
        lines = text.split("\n")
        nl = max(len(lines), 1)
        bullet = sum(l.startswith(("- ", "* ", "•")) for l in lines) / nl
        ell_l = sum(l.endswith("...") for l in lines) / nl
        alpha = sum(any(c.isalpha() and c.isascii() for c in w) for w in words) / nw
        lower = [w.lower() for w in words]
        stop = ("the" in lower) + ("a" in lower)
        r = out[i]
        assert r["ok_word_count"] == (30 <= len(words) <= 100_000), i
        assert r["mean_word_len"] == mean_wl, i
        assert r["ok_symbol_ratio"] == ((n_hash + n_ell) / nw <= 0.1), i
        assert r["ok_bullet_lines"] == (bullet <= 0.9), i
        assert r["ok_ellipsis_lines"] == (ell_l <= 0.3), i
        assert r["ok_alpha_words"] == (alpha >= 0.8), i
        assert r["ok_stopwords"] == (stop >= 2), i


def test_sessionize_agrees_with_session_window(spark):
    """Two independent session implementations — lag/cumsum (e01) and
    Spark's session_window (c05) — must produce identical session
    structure on real data: same session count and same (user, start,
    n_events) triples."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.events import session_stats
    from basis_devkit_spark.queries import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    ours = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_stats(ev, gap_minutes=30).collect()
    }
    sw = {
        (r["user_id"], r["start"], r["n"])
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("start"), "n")
        .collect()
    }
    assert ours == sw


def test_label_centroids_handcomputed(spark):
    from basis_devkit_spark.operators.embeddings import label_centroids

    rows = [
        ("a", [1.0, 2.0]), ("a", [3.0, 4.0]),
        ("b", [10.0, 20.0]),
    ]
    df = spark.createDataFrame(rows, ["label", "embedding"])
    out = {r["label"]: r["centroid"] for r in label_centroids(df).collect()}
    assert out["a"] == [2.0, 3.0]
    assert out["b"] == [10.0, 20.0]


def test_inter_event_gaps_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import inter_event_gaps

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, 1, t0), (2, 1, t0 + 5 * s), (3, 1, t0 + 7 * s),  # gaps 5s, 2s
        (4, 2, t0),                                          # single event: no gaps
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {r["user_id"]: r for r in inter_event_gaps(df).collect()}
    assert out[1]["n_gaps"] == 2
    assert out[1]["min_gap_us"] == 2_000_000
    assert out[1]["max_gap_us"] == 5_000_000
    assert out[1]["sum_gap_us"] == 7_000_000
    assert 2 not in out


def test_trailing_window_counts_range_semantics(spark):
    """RANGE (time) frame, not ROWS: counts depend on actual spacing,
    and the boundary is inclusive at exactly -window."""
    import datetime as dt

    from basis_devkit_spark.operators.events import trailing_window_counts

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 1, t0),
        (2, 1, t0 + 30 * m),
        (3, 1, t0 + 60 * m),   # exactly 60 min after #1: inclusive
        (4, 1, t0 + 121 * m),  # everything else out of range
    ]
    df = spark.createDataFrame(rows, ["event_id", "user_id", "ts"])
    out = {r["event_id"]: r["n_trailing"]
           for r in trailing_window_counts(df, minutes=60).collect()}
    assert out == {1: 1, 2: 2, 3: 3, 4: 1}


def test_profile_numeric_handcomputed(spark):
    from basis_devkit_spark.operators.text import profile_numeric

    df = spark.createDataFrame(
        [(1, 2.0, "x"), (2, None, "y"), (2, 4.0, "z")],
        ["a", "b", "s"],
    )
    out = {r["column"]: r for r in profile_numeric(df).collect()}
    assert set(out) == {"a", "b"}  # string column excluded
    assert out["a"]["n_nulls"] == 0 and out["a"]["n_distinct"] == 2
    assert out["a"]["sum_v"] == 5.0
    assert out["b"]["n_nulls"] == 1 and out["b"]["n_distinct"] == 2
    assert out["b"]["min_v"] == 2.0 and out["b"]["max_v"] == 4.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        profile_numeric(df.select("s"))


def test_source_vocab_overlap_handcomputed(spark):
    from basis_devkit_spark.operators.dedup import source_vocab_overlap

    rows = [
        ("s1", 1, "a b c d"),        # grams: abc, bcd
        ("s2", 2, "a b c e"),        # grams: abc, bce
        ("s3", 3, "x y z w"),        # grams: xyz, yzw (disjoint)
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {
        (r["group_a"], r["group_b"]): (r["n_shared"], r["jaccard"])
        for r in source_vocab_overlap(df).collect()
    }
    assert out == {("s1", "s2"): (1, 0.333333)}  # |{abc}| / |{abc,bcd,bce}|


def test_experiment_assignment_deterministic_and_partitioned(spark):
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.events import assign_experiment, srm_check

    df = spark.range(3000).toDF("user_id")
    arms = ["a", "b", "c"]
    x = assign_experiment(df, arms).collect()
    y = assign_experiment(df, arms).collect()
    assert sorted(map(tuple, x)) == sorted(map(tuple, y))  # stable
    got = {r["user_id"]: r["arm"] for r in x}
    assert set(got.values()) == set(arms)
    # different salt reshuffles at least some units
    z = {r["user_id"]: r["arm"] for r in assign_experiment(df, arms, salt="other").collect()}
    assert any(got[u] != z[u] for u in got)

    srm = srm_check(df, arms)
    rows = srm.collect()
    assert len(rows) == 3
    assert sum(r["n_units"] for r in rows) == 3000
    # a healthy md5-uniform split over 3000 units: chi2 well under 13.8
    # (p=0.001 at 2 dof) — a deterministic fact of this salt, not flaky
    assert all(r["chi2"] < 13.8 for r in rows)


def test_scd2_merge_expire_and_insert(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.joins import scd2_merge

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    dim = spark.createDataFrame(
        [
            # key 1: one expired + one current row
            (1, "old-addr", t0 - dt.timedelta(days=100), t0, False),
            (1, "addr-a", t0, None, True),
            # key 2: current only, not updated this batch
            (2, "addr-b", t0, None, True),
        ],
        "id int, addr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "addr-a2", t1), (3, "addr-c", t1)],
        "id int, addr string, effective_ts timestamp",
    )
    out = scd2_merge(dim, updates, ["id"], "effective_ts")
    rows = sorted(
        ((r["id"], r["addr"], r["is_current"], r["valid_to"]) for r in out.collect())
    )
    assert (1, "addr-a", False, t1) in rows          # expired at update time
    assert (1, "addr-a2", True, None) in rows        # new current
    assert (1, "old-addr", False, t0) in rows        # history untouched
    assert (2, "addr-b", True, None) in rows         # unrelated current kept
    assert (3, "addr-c", True, None) in rows         # brand-new key inserted
    cur = out.filter(F.col("is_current"))
    assert cur.count() == 3 and cur.select("id").distinct().count() == 3


def test_multi_benchmark_contamination_attribution(spark):
    from basis_devkit_spark.operators.dedup import multi_benchmark_contamination

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),   # hits bench A only
            (2, "epsilon zeta eta theta"),   # hits bench B only
            (3, "alpha beta gamma epsilon zeta eta"),  # hits both
            (4, "totally different words here"),       # clean
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [("A", "alpha beta gamma xxx"), ("B", "epsilon zeta eta yyy")],
        ["bench_name", "text"],
    )
    out = {
        (r["doc_id"], r["bench_name"]): r["shared_grams"]
        for r in multi_benchmark_contamination(
            corpus, bench, shingle_size=3
        ).collect()
    }
    assert out == {(1, "A"): 1, (2, "B"): 1, (3, "A"): 1, (3, "B"): 1}


def test_experiment_readout_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import (
        assign_experiment,
        experiment_readout,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for u in range(60):
        rows.append((u, "view", t0, 1.0))
        if u % 2 == 0:
            rows.append((u, "purchase", t0, 10.0))
    df = spark.createDataFrame(rows, ["user_id", "event_type", "ts", "value"])
    arms = ["a", "b"]
    out = {r["arm"]: r for r in experiment_readout(df, arms).collect()}
    # totals across arms must reconstruct the ground truth exactly
    assert sum(r["n_units"] for r in out.values()) == 60
    assert sum(r["n_converted"] for r in out.values()) == 30
    assert sum(r["metric_value"] for r in out.values()) == 300.0
    # conversion rate consistent with its own integers
    for r in out.values():
        assert r["conversion_rate"] == __import__("math").floor(
            r["n_converted"] / r["n_units"] * 1e6 + 0.5
        ) / 1e6
    # every unit's arm matches assign_experiment
    arms_of = {r["user_id"]: r["arm"]
               for r in assign_experiment(df.select("user_id").distinct(), arms).collect()}
    assert set(arms_of.values()) == {"a", "b"}


def test_embedding_standardize_fit_handcomputed(spark):
    import math

    from basis_devkit_spark.operators.embeddings import embedding_standardize_fit

    df = spark.createDataFrame(
        [([1.0, 10.0],), ([3.0, 10.0],), ([5.0, 10.0],)], ["embedding"]
    )
    out = {r["pos"]: (r["mu"], r["sigma"])
           for r in embedding_standardize_fit(df).collect()}
    assert out[1] == (3.0, 2.0)  # mean 3, sample std 2
    assert out[2][0] == 10.0 and out[2][1] == 0.0  # constant dim


def test_nearest_centroid_beats_chance_and_separates_planted(spark):
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.embeddings import (
        label_centroids,
        nearest_centroid_assign,
    )

    # planted well-separated classes: perfect recovery expected
    rows = []
    for lab, base in (("a", [10.0, 0.0, 0.0]), ("b", [0.0, 10.0, 0.0])):
        for i in range(20):
            rows.append((lab, [x + (i % 3) * 0.1 for x in base]))
    df = spark.createDataFrame(rows, ["label", "embedding"])
    pred = nearest_centroid_assign(df, label_centroids(df))
    assert pred.filter(F.col("pred_label") != F.col("label")).count() == 0

    # real corpus: must beat chance (10 labels) by a wide margin
    from basis_devkit_spark.queries import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    p = nearest_centroid_assign(e, label_centroids(e))
    acc = p.filter(
        F.col("pred_label") == F.col("label").cast("string")
    ).count() / e.count()
    assert acc > 0.25  # chance is 0.1


def test_nearest_centroid_join_form_equivalent(spark):
    """The relational (join) form must assign identically to the
    literal-expression form on real data, including a planted exact tie
    (resolved toward the smallest label in both)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.embeddings import (
        label_centroids,
        nearest_centroid_assign,
        nearest_centroid_assign_join,
    )
    from basis_devkit_spark.queries import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    cents = label_centroids(e)
    a = {r["vec_id"]: r["pred_label"]
         for r in nearest_centroid_assign(e, cents).select("vec_id", "pred_label").collect()}
    b = {r["vec_id"]: r["pred_label"]
         for r in nearest_centroid_assign_join(e, cents).select("vec_id", "pred_label").collect()}
    assert a == b

    # exact tie: two identical centroids -> smallest label wins in join form
    df = spark.createDataFrame([(1, [1.0, 0.0])], ["vec_id", "embedding"])
    cents2 = spark.createDataFrame(
        [("z", [1.0, 0.0]), ("a", [1.0, 0.0])], ["label", "centroid"]
    )
    r = nearest_centroid_assign_join(df, cents2).collect()[0]
    assert r["pred_label"] == "a"


def test_expectations_report_and_enforce(spark):
    """dbt/DLT-style expectations: the one-pass report counts every
    rule kind correctly (NULL violates row rules; unique = rows −
    distinct keys), and enforce splits rows with a failed_rules tag
    naming every broken rule in stable order; unique rules are
    rejected by enforce."""
    import pytest as _pt

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.expectations import (
        enforce_expectations,
        expectation_report,
    )

    rows = [
        (1, "a", 10.0, "1-URGENT"),
        (1, "b", -5.0, "9-BOGUS"),     # dup key, range, regex
        (2, None, 50.0, "2-HIGH"),     # null status
        (3, "z", None, "3-MEDIUM"),    # bad status value, null price
        (4, "a", 200.0, None),         # over range, null priority
    ]
    df = spark.createDataFrame(
        rows, "k long, status string, price double, prio string"
    )
    rules = [
        ("not_null", "status"),
        ("unique", "k"),
        ("accepted_values", "status", ["a", "b"]),
        ("in_range", "price", 0.0, 100.0),
        ("matches", "prio", "^[1-5]-"),
    ]
    rep = {r["rule"]: r for r in expectation_report(df, rules).collect()}
    assert all(r["n_rows"] == 5 for r in rep.values())
    assert rep["not_null(status)"]["n_violations"] == 1
    assert rep["unique(k)"]["n_violations"] == 1
    assert rep["accepted_values(status)"]["n_violations"] == 2  # NULL + 'z'
    assert rep["in_range(price)"]["n_violations"] == 3  # -5, NULL, 200
    assert rep["matches(prio)"]["n_violations"] == 2    # 9-BOGUS, NULL
    assert rep["unique(k)"]["kind"] == "unique"

    row_rules = [r for r in rules if r[0] != "unique"]
    ok, bad = enforce_expectations(df, row_rules)
    assert {r["k"] for r in ok.collect()} == {1}  # only the first row 1
    tags = {
        (r["k"], r["status"]): r["failed_rules"] for r in bad.collect()
    }
    assert tags[(1, "b")] == "in_range(price),matches(prio)"
    assert tags[(2, None)] == "not_null(status),accepted_values(status)"
    assert "failed_rules" not in ok.columns
    with _pt.raises(ValueError):
        enforce_expectations(df, rules)  # unique is report-only
    # composite unique key
    rep2 = expectation_report(df, [("unique", ("k", "status"))]).collect()
    assert rep2[0]["n_violations"] == 0
    # one-pass plan: a single scan, no join
    plan = (
        expectation_report(df, rules)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan and "Window" not in plan


def test_winsorize_handcomputed(spark):
    """Quantile clamp: values outside [p_lo, p_hi] land exactly on the
    rounded bounds, inner values pass through, per-group bounds are
    independent, and the plan broadcasts the bounds relation."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import winsorize

    rows = [("g1", float(v)) for v in range(1, 101)] + [
        ("g2", 1000.0), ("g2", 2000.0), ("g2", 3000.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = winsorize(df, "v", 0.10, 0.90, group_col="g").collect()
    g1 = sorted(r["v_clipped"] for r in out if r["g"] == "g1")
    # exact linear-interpolation p10/p90 of 1..100 = 10.9 / 90.1
    assert g1[0] == 10.9 and g1[-1] == 90.1
    assert g1.count(10.9) == 10 and g1.count(90.1) == 10
    assert 50.0 in g1  # inner values untouched
    g2 = {r["v"]: r["v_clipped"] for r in out if r["g"] == "g2"}
    assert g2[1000.0] == 1200.0 and g2[3000.0] == 2800.0  # p10/p90 of 3 pts
    assert g2[2000.0] == 2000.0
    # global form + plan gate
    glob = winsorize(df.select("v"), "v", 0.0, 0.5)
    # p50 of the 103 pooled values = the 52nd = 52.0
    assert glob.agg(F.max("v_clipped")).first()[0] == 52.0
    plan = glob._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan and "EvalPython" not in plan
    with __import__("pytest").raises(ValueError):
        winsorize(df, "v", 0.9, 0.1)


def test_touch_attribution_handcomputed(spark):
    """First/last/linear attribution on a hand-built stream: window
    inclusion is (conv_ts - lookback, conv_ts], ties on ts break by
    touch id, zero-touch conversions keep NULL/0/NULL, and the plan is
    a per-user equi-join + hash agg — no Window, no cross join."""
    import datetime as dt

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.events import touch_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    rows = [
        # user 1: view@0, click@100, view@100 (tie), purchase@200 (v=10)
        (1, s(0), 1, "view", 0.0),
        (2, s(100), 1, "click", 0.0),
        (3, s(100), 1, "view", 0.0),
        (4, s(200), 1, "purchase", 10.0),
        # the boundary touch exactly lookback before conv is EXCLUDED
        (5, s(200 - 3600), 2, "view", 0.0),
        (6, s(200), 2, "purchase", 7.0),
        # user 3: no touches at all
        (7, s(50), 3, "purchase", 5.0),
        # user 1's second purchase sees all three touches again
        (8, s(300), 1, "purchase", 9.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double"
    )
    out = touch_attribution(
        df, ["view", "click"], "purchase", lookback_hours=1
    )
    got = {r["conversion_id"]: r.asDict() for r in out.collect()}
    assert got[4]["first_channel"] == "view"          # id tie-break: 2 < 3
    assert got[4]["last_channel"] == "view"           # ts tie: id 3 wins
    assert got[4]["n_touches"] == 3
    assert abs(got[4]["linear_credit"] - 3.333333) < 1e-9
    # boundary: ts == conv_ts - lookback excluded -> zero-touch
    assert got[6]["n_touches"] == 0
    assert got[6]["first_channel"] is None and got[6]["linear_credit"] is None
    assert got[7]["n_touches"] == 0
    assert got[8]["n_touches"] == 3 and got[8]["linear_credit"] == 3.0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "EvalPython" not in plan


def test_dau_wau_stickiness_handcomputed(spark):
    """e15 on a planted calendar: user A active every day, user B only
    day 1, user C days 1 and 8 (outside the 7-day window of day 1's
    contributions by day 8? no — day 8's trailing window is days 2-8,
    so B's day-1 activity has aged out but C's day-8 counts)."""
    from datetime import datetime

    from basis_devkit_spark.operators.events import dau_wau_stickiness

    rows = []
    for d in range(1, 9):  # days 1..8, user A daily
        rows.append((100, datetime(2024, 3, d, 12, 0, 0)))
    rows.append((200, datetime(2024, 3, 1, 9, 0, 0)))   # B: day 1 only
    rows.append((300, datetime(2024, 3, 1, 9, 0, 0)))   # C: days 1, 8
    rows.append((300, datetime(2024, 3, 8, 9, 0, 0)))
    rows.append((None, datetime(2024, 3, 2, 0, 0, 0)))  # null user dropped
    rows.append((400, None))                            # null ts dropped
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        str(r["day"]): (r["dau"], r["wau"], r["stickiness"])
        for r in dau_wau_stickiness(df).collect()
    }
    assert len(out) == 8
    # day 1: A,B,C active; window = day 1 only (no earlier activity)
    assert out["2024-03-01"] == (3, 3, 1.0)
    # day 2: A only; window days -4..2 covers day 1 -> A,B,C
    assert out["2024-03-02"] == (1, 3, int(1 / 3 * 1e6 + 0.5) / 1e6)
    # day 7: A; window days 1..7 -> A,B,C
    assert out["2024-03-07"] == (1, 3, int(1 / 3 * 1e6 + 0.5) / 1e6)
    # day 8: A,C; window days 2..8 -> A,C (B aged out)
    assert out["2024-03-08"] == (2, 2, 1.0)


def test_activity_concentration_handcomputed(spark):
    import datetime as dt

    from basis_devkit_spark.operators.events import activity_concentration

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # 10 users: user 0 fires 91 events, the rest 1 each -> top 10% (=1 user)
    # owns 91 of 100
    for i in range(91):
        rows.append((0, t0))
    for u in range(1, 10):
        rows.append((u, t0))
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    r = activity_concentration(df, top_fraction=0.1).collect()[0]
    assert (r["n_users"], r["top_k"], r["top_events"], r["total_events"]) == (
        10, 1, 91, 100,
    )
    assert r["top_share"] == 0.91


def test_scd2_merge_intra_batch_multi_update_latest_wins(spark):
    """ADVICE r4: a batch with multiple updates for one key must not
    expire the current row once per update nor insert multiple current
    rows — the operator collapses to the latest effective_ts per key
    (standard Delta latest-wins merge)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.joins import scd2_merge

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    t2 = dt.datetime(2024, 9, 1)
    dim = spark.createDataFrame(
        [(1, "addr-a", t0, None, True), (2, "addr-b", t0, None, True)],
        "id int, addr string, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    updates = spark.createDataFrame(
        [(1, "addr-mid", t1), (1, "addr-new", t2)],
        "id int, addr string, effective_ts timestamp",
    )
    out = scd2_merge(dim, updates, ["id"], "effective_ts")
    rows = sorted(
        (r["id"], r["addr"], r["is_current"], r["valid_to"], r["valid_from"])
        for r in out.collect()
    )
    # exactly ONE expired row for key 1, at the LATEST update's ts
    expired = [r for r in rows if r[0] == 1 and not r[2]]
    assert expired == [(1, "addr-a", False, t2, t0)]
    # exactly ONE current row per key; key 1's carries the latest value
    cur = {r[0]: r for r in rows if r[2]}
    assert set(cur) == {1, 2}
    assert cur[1][1] == "addr-new" and cur[1][4] == t2
    # key1 expired + key1 new current + key2 untouched current = 3 rows;
    # the intermediate addr-mid update leaves no row at all
    assert out.count() == 3


def test_srm_check_zero_unit_arm_counts_in_chi2(spark):
    """ADVICE r4: an arm that received ZERO units must still contribute
    its (0-expected)^2/expected term — one user across three arms gives
    chi2 = (1-1/3)^2/(1/3) + 2*(0-1/3)^2/(1/3) = 2.0 exactly."""
    import datetime as dt

    from basis_devkit_spark.operators.events import srm_check

    df = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1))], ["user_id", "ts"]
    )
    rows = srm_check(df, ["control", "variant_a", "variant_b"]).collect()
    assert len(rows) == 3
    assert sorted(r["arm"] for r in rows) == ["control", "variant_a", "variant_b"]
    assert sum(r["n_units"] for r in rows) == 1
    assert all(r["chi2"] == 2.0 for r in rows)


def test_activity_concentration_matches_rank_window_with_boundary_ties(spark):
    """The r5 scale-safe form (count-distribution threshold, no global
    per-user rank window) must equal the rank-window definition even
    when the top-k boundary cuts through a tie group."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from basis_devkit_spark.operators.events import activity_concentration

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # 20 users: two at 10 events, SIX tied at 5 (k=2 boundary cuts the
    # tie group when top_fraction=0.2 -> k=4), the rest 1 each
    for u in range(2):
        rows += [(u, t0)] * 10
    for u in range(2, 8):
        rows += [(u, t0)] * 5
    for u in range(8, 20):
        rows += [(u, t0)]
    df = spark.createDataFrame(rows, ["user_id", "ts"])

    got = activity_concentration(df, top_fraction=0.2).collect()[0]

    # reference: literal rank-window formulation
    per_user = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("user_id"))
    ranked = per_user.withColumn("r", F.row_number().over(w))
    n_users = per_user.count()
    import math

    k = math.ceil(n_users * 0.2)
    top_events = (
        ranked.filter(F.col("r") <= k).agg(F.sum("n")).collect()[0][0]
    )
    total = per_user.agg(F.sum("n")).collect()[0][0]
    assert (got["n_users"], got["top_k"]) == (n_users, k)
    assert got["top_events"] == top_events == 30  # 10+10+5+5
    assert got["total_events"] == total == 62
    assert got["top_share"] == math.floor(30 / 62 * 1e6 + 0.5) / 1e6


def test_sequence_pack_matches_bruteforce(spark):
    docs = [
        (0, "a b c"),            # 3 tokens
        (3, "d e f g h"),        # 5
        (7, "i j"),              # 2
        (8, "k l m n o p q r"),  # 8 — straddles the budget-8 boundary
        (12, "s"),               # 1
    ]
    from basis_devkit_spark.operators.text import sequence_pack

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in sequence_pack(df, budget=8, bucket_size=4).collect()
    }
    cum = 0
    want = {}
    for i, t in sorted(docs):
        n = len(t.split())
        want[i] = (n, cum // 8, cum % 8)
        cum += n
    assert got == want


def test_sequence_pack_append_equals_one_shot(spark):
    """c23 batch semantics: laying out the corpus in N successive
    batches (each continuing from the prior cursor) is byte-identical
    to the one-shot sequence_pack over the concatenation, the state
    helper reports the exact cursor after each batch, and an empty
    batch leaves the cursor unchanged."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        sequence_pack,
        sequence_pack_append,
        sequence_pack_state,
    )

    docs = [
        (0, "a b c"), (3, "d e f g h"), (7, "i j"),
        (8, "k l m n o p q r"), (12, "s"), (15, "t u v w"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    one_shot = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in sequence_pack(df, budget=8).collect()
    }
    cursor = 0
    got = {}
    for lo, hi in ((0, 8), (8, 13), (13, 99)):
        batch = df.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        layout = sequence_pack_append(batch, 8, cursor_tokens=cursor)
        for r in layout.collect():
            got[r["doc_id"]] = (r["n_tokens"], r["seq_id"], r["seq_offset"])
        st = sequence_pack_state(layout, 8, cursor_tokens=cursor).collect()[0]
        assert st["total_tokens"] == cursor + sum(
            len(t.split()) for i, t in docs if lo <= i < hi
        )
        assert st["last_seq_id"] == st["total_tokens"] // 8
        assert st["last_seq_offset"] == st["total_tokens"] % 8
        cursor = int(st["total_tokens"])
    assert got == one_shot
    # empty batch: layout empty, cursor unchanged
    empty = df.filter(F.col("doc_id") < 0)
    layout = sequence_pack_append(empty, 8, cursor_tokens=cursor)
    assert layout.count() == 0
    st = sequence_pack_state(layout, 8, cursor_tokens=cursor).collect()[0]
    assert st["total_tokens"] == cursor


def test_sequence_pack_append_out_of_order_batches(spark):
    """r12 contract test: the parity claim is against the ARRIVAL-order
    concatenation — a late batch carrying SMALLER ids than the packed
    history still packs after it, deterministically (replay-equal), and
    equals the one-shot pack of the docs in that arrival order. It does
    NOT equal the global-id-order pack (that parity needs id-ordered
    arrival — docstring contract)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        sequence_pack,
        sequence_pack_append,
        sequence_pack_state,
    )

    docs = [
        (10, "a b c"), (13, "d e f g h"), (17, "i j"),
        (2, "k l m n o p q r"), (5, "s"),   # SMALLER ids arriving later
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    first = df.filter(F.col("doc_id") >= 10)
    late = df.filter(F.col("doc_id") < 10)

    def run():
        cursor, got = 0, {}
        for batch in (first, late):
            layout = sequence_pack_append(batch, 8, cursor_tokens=cursor)
            for r in layout.collect():
                got[r["doc_id"]] = (r["n_tokens"], r["seq_id"], r["seq_offset"])
            st = sequence_pack_state(
                layout, 8, cursor_tokens=cursor
            ).collect()[0]
            cursor = int(st["total_tokens"])
        return got, cursor

    got, cursor = run()
    assert cursor == sum(len(t.split()) for _, t in docs)
    # deterministic: replaying the same batch sequence yields the same layout
    assert run() == (got, cursor)
    # equals the one-shot pack of the ARRIVAL order: first-batch ids
    # (id-sorted within the batch) then late-batch ids — model by
    # walking that order
    cum, expect = 0, {}
    for i, t in sorted([(i, t) for i, t in docs if i >= 10]) + sorted(
        [(i, t) for i, t in docs if i < 10]
    ):
        n = len(t.split())
        expect[i] = (n, cum // 8, cum % 8)
        cum += n
    assert got == expect
    # and it genuinely DIFFERS from the global-id-order one-shot pack
    # (doc 2 is 8 tokens: id-order puts it at offset 0, arrival at 10)
    id_order = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in sequence_pack(df, budget=8).collect()
    }
    assert got != id_order


def test_redact_pii_counted_handcomputed(spark):
    from basis_devkit_spark.operators.text import redact_pii_counted

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.example.org today"),
            (2, "server 192.168.1.10 and ssn 123-45-6789"),
            (3, "call +44 20 7946 0958 now"),
            (4, "nothing sensitive here"),
        ],
        ["id", "text"],
    )
    rows = {r["id"]: r for r in redact_pii_counted(df).collect()}
    assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["text"]
    assert "bob.smith" not in rows[1]["text"]
    assert rows[2]["n_ip"] == 1 and rows[2]["n_ssn"] == 1
    assert "[IP]" in rows[2]["text"] and "[SSN]" in rows[2]["text"]
    # the SSN must be redacted BEFORE the phone pass can swallow it
    assert rows[2]["n_phone"] == 0
    assert rows[3]["n_phone"] == 1 and "[PHONE]" in rows[3]["text"]
    assert rows[4]["text"] == "nothing sensitive here"
    assert (rows[4]["n_email"], rows[4]["n_ip"], rows[4]["n_ssn"],
            rows[4]["n_phone"]) == (0, 0, 0, 0)


def test_sequence_pack_bucket_size_invariant(spark):
    """Placements must not depend on the bucket width (an internal
    parallelism knob of the two-pass prefix sum)."""
    docs = [(0, "a b c"), (3, "d e f g h"), (7, "i j"), (12, "k l m")]
    from basis_devkit_spark.operators.text import sequence_pack

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    a = sequence_pack(df, budget=4, bucket_size=2)
    b = sequence_pack(df, budget=4, bucket_size=8192)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_shard_assign_deterministic_and_plan_balance(spark):
    from basis_devkit_spark.operators.text import shard_assign, shard_plan

    df = spark.createDataFrame(
        [(i, "x" * (10 + i % 7)) for i in range(400)], ["doc_id", "text"]
    )
    a = shard_assign(df, 8)
    b = shard_assign(df, 8)
    # deterministic: identical assignment across invocations
    assert a.exceptAll(b).count() == 0
    assert a.filter((F.col("shard") < 0) | (F.col("shard") >= 8)).count() == 0
    # bytes measured in UTF-8 octets
    row = a.filter(F.col("doc_id") == 0).collect()[0]
    assert row["n_bytes"] == 10
    plan = shard_plan(df, 8).collect()
    assert len(plan) == 8
    assert {r["shard"] for r in plan} == set(range(8))
    total = sum(r["n_docs"] for r in plan)
    assert total == 400
    imb = plan[0]["imbalance"]
    assert all(r["imbalance"] == imb for r in plan)
    mean = sum(r["total_bytes"] for r in plan) / 8
    assert abs(imb - max(r["total_bytes"] for r in plan) / mean) < 1e-6
    assert imb < 2.0  # md5-uniform: no shard is pathologically hot


def test_ann_join_recall_vs_bruteforce(spark, sf_dir):
    """ann_join with the deterministic quantizer must recover most of the
    exact top-3 neighbor set (recall is the ANN quality contract; the
    candidate SET itself is oracle-checked by d03h)."""
    from basis_devkit_spark.operators.similarity import ann_join, brute_force_topk
    from basis_devkit_spark.queries import load
    from basis_devkit_spark.queries.analytics import _ivf_seed_centroids

    emb = load(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0).limit(40)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    approx = {
        (r["query_id"], r["match_id"])
        for r in ann_join(
            left, right, k=3, nlist=8, nprobe=4,
            centroids=_ivf_seed_centroids(emb, 8),
        ).collect()
    }
    exact = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(left, right, k=3).collect()
    }
    assert len(exact) > 0
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall  # nprobe=4 of 8 cells: well above half


def test_ann_join_hot_cell_guard(spark, sf_dir):
    from basis_devkit_spark.operators.similarity import ann_join
    from basis_devkit_spark.queries import load
    from basis_devkit_spark.queries.analytics import _ivf_seed_centroids

    emb = load(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0).limit(10)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    out = ann_join(
        left, right, k=3, nlist=8, nprobe=8,
        centroids=_ivf_seed_centroids(emb, 8), max_cell_size=1,
    )
    # with every cell capped at 1 member, each query sees <= 8 candidates
    per_q = out.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    assert per_q is None or per_q <= 3


def test_exact_substring_dedup_semantics(spark):
    """ExactSubstr model: a doc fully contained in a later doc is excised
    from the later one (first occurrence kept), self-repetition collapses
    to its first span, unique docs pass through, sub-span-length docs
    never shingle."""
    from basis_devkit_spark.operators.dedup import exact_substring_dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j extra tail here"),
        (3, "z y x w v u t s r q"),
        (4, "m m m m m m m m"),
        (5, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in exact_substring_dedup(df, span_tokens=4).collect()
    }
    assert out[1] == ("a b c d e f g h i j", 0)
    assert out[2] == ("extra tail here", 10)
    assert out[3] == ("z y x w v u t s r q", 0)
    assert out[4] == ("m", 7)
    assert out[5] == ("too short", 0)


def test_exact_substring_dedup_merges_disjoint_and_overlapping_spans(spark):
    """Two separate duplicated regions in one doc produce two disjoint
    excision intervals; overlapping shingles of one long region merge."""
    from basis_devkit_spark.operators.dedup import exact_substring_dedup

    dup1 = "p q r s"
    dup2 = "w x y z"
    rows = [
        (1, f"{dup1} one filler {dup2}"),
        (2, f"{dup1} two filler {dup2} trailing bits"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in exact_substring_dedup(df, span_tokens=4).collect()
    }
    assert out[1] == (f"{dup1} one filler {dup2}", 0)
    # doc2 loses both planted regions AND 'filler' — 'filler w x y' is
    # itself a shared 4-gram spanning the region boundary, so the merged
    # excisions are [0,4) and [5,10): 9 tokens gone, 'two' survives
    # because no shared 4-gram starts at or covers position 4 only.
    assert out[2] == ("two trailing bits", 9)


def test_ann_index_build_query_equals_one_shot(spark, emb):
    """Build-once/query-many: ann_join_indexed over the persisted index
    returns byte-identical rows to the one-shot ann_join with the same
    quantizer (parquet round-trips preserve doubles bit-for-bit), and a
    second query against the same index is served without rebuilding."""
    import tempfile

    from basis_devkit_spark.operators.similarity import (
        ann_index_build,
        ann_join,
        ann_join_indexed,
    )
    from basis_devkit_spark.storage.store import TableStore
    from pyspark.sql import functions as F

    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    seed_cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    one_shot = {
        tuple(r)
        for r in ann_join(
            left, right, k=3, nlist=8, nprobe=4, centroids=seed_cents
        ).collect()
    }
    centroids_df, cells = ann_index_build(
        right, nlist=8, centroids=seed_cents
    )
    tmp = tempfile.mkdtemp(prefix="bds_annidx_")
    cstore = TableStore(tmp, "cents", spark)
    cstore.write_replace(centroids_df)
    kstore = TableStore(tmp, "cells", spark)
    kstore.configure(partition_by="cell")
    kstore.write_replace(cells)
    for _ in range(2):  # query TWICE against the same persisted artifact
        indexed = {
            tuple(r)
            for r in ann_join_indexed(
                left, cstore.read(), kstore.read(), k=3, nprobe=4
            ).collect()
        }
        assert indexed == one_shot


def test_ann_index_assign_matches_build(spark, emb):
    """Incremental assignment (ann_index_assign, the streaming-ingest
    path) produces EXACTLY the rows a full ann_index_build would — same
    cell, same pre-cast vector, same pre-folded norm — so an index grown
    batch-by-batch equals a rebuild."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        ann_index_assign,
        ann_index_build,
    )

    right = emb.filter(F.col("vec_id") % 2 == 1)
    seed_cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    _, built = ann_index_build(right, nlist=8, centroids=seed_cents)
    incr = ann_index_assign(right, seed_cents)
    key = lambda r: (r["vec_id"], r["cell"], tuple(r["vecd"]), r["vnorm"])
    assert {key(r) for r in built.collect()} == {key(r) for r in incr.collect()}


def test_probe_form_broadcast_bit_identical_to_literal(spark, emb):
    """The broadcast-relation probe form (the 100 TB default: centroids in
    a single-row broadcast relation, ranks via a per-row transform) is
    BIT-identical to the legacy literal form — same sequential cosine
    folds over the same doubles, only the centroid storage differs. Both
    the assigned cell AND the raw (-cosine) rank score must match to the
    last ulp, row for row."""
    import random

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        _cell_rank_structs,
        _with_cell_ranks,
    )

    rng = random.Random(7)
    dim = emb.select(F.size("embedding")).first()[0]
    cents = [
        (j, [rng.gauss(0, 1) for _ in range(dim)]) for j in range(8)
    ]
    lit = emb.withColumn("__cr", _cell_rank_structs(F.col("embedding"), cents))
    bc = _with_cell_ranks(emb, cents, F.col("embedding"), "__cr", "broadcast")
    pick = lambda df: (
        df.select(
            "vec_id",
            F.array_min("__cr").getField("cell").alias("cell"),
            F.array_min("__cr").getField("nc").alias("nc"),
            F.slice(F.array_sort("__cr"), 1, 4).alias("probes"),
        )
        .orderBy("vec_id")
        .collect()
    )
    a, b = pick(lit), pick(bc)
    assert len(a) == len(b) > 0
    for x, y in zip(a, b):
        assert x["vec_id"] == y["vec_id"]
        assert x["cell"] == y["cell"]
        assert x["nc"] == y["nc"]  # bit-exact, not approx
        assert x["probes"] == y["probes"]


def test_probe_form_broadcast_plan_flat_in_nlist(spark, emb):
    """The scale gate for r6's one flagged flaw: at nlist=64 the broadcast
    probe plan must (a) attach centroids through a broadcast HASH join —
    never a nested loop/cartesian — and (b) carry NO giant literal
    array: its plan string stays a fraction of the literal form's (which
    embeds nlist x dim double literals) and, unlike the literal form,
    does not grow with nlist."""
    import random

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import ann_join_indexed, ann_index_build

    rng = random.Random(11)
    dim = emb.select(F.size("embedding")).first()[0]
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)

    def plan_for(nlist, form):
        cents = [
            (j, [rng.gauss(0, 1) for _ in range(dim)]) for j in range(nlist)
        ]
        _, cells = ann_index_build(right, nlist=nlist, centroids=cents,
                                   probe_form=form)
        q = ann_join_indexed(left, cents, cells, k=3, nprobe=4,
                             probe_form=form)
        return q._jdf.queryExecution().executedPlan().toString()

    bc64 = plan_for(64, "broadcast")
    assert "BroadcastHashJoin" in bc64
    assert "BroadcastNestedLoopJoin" not in bc64
    assert "CartesianProduct" not in bc64
    lit64 = plan_for(64, "literal")
    assert len(bc64) < len(lit64) / 5, (len(bc64), len(lit64))
    bc8 = plan_for(8, "broadcast")
    # flat in nlist: within noise of the nlist=8 plan (same operators,
    # same column ids modulo counters)
    assert len(bc64) < 1.2 * len(bc8), (len(bc8), len(bc64))


def test_sequence_pack_supplied_counts_equivalence(spark):
    """n_tokens_col (tokenizer-pluggable packing): supplying a count
    column that EQUALS the whitespace count reproduces the default
    layout exactly; supplying different counts repacks by them."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import sequence_pack

    rows = [(i, " ".join(f"w{j}" for j in range(3 + (i * 7) % 11))) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ws = df.withColumn(
        "ct", F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    )
    a = sequence_pack(df, budget=16).orderBy("doc_id").collect()
    b = sequence_pack(ws, budget=16, n_tokens_col="ct").orderBy("doc_id").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # different counts -> layout is a pure function of the supplied column
    bpe = df.withColumn("ct", (F.floor(F.length("text") / 4) + 1).cast("long"))
    c = sequence_pack(bpe, budget=16, n_tokens_col="ct").orderBy("doc_id").collect()
    cum = 0
    for r in c:
        assert r["seq_id"] == cum // 16 and r["seq_offset"] == cum % 16
        cum += r["n_tokens"]


def test_exact_substring_dedup_null_text_contract(spark):
    """Documented contract: EVERY input doc keeps its row; null/empty
    text yields text_clean='' with n_removed=0 (not nulls)."""
    from basis_devkit_spark.operators.dedup import exact_substring_dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, None), (3, ""), (4, "a b c d e f")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_substring_dedup(df, span_tokens=3).collect()}
    assert len(out) == 4
    assert out[2]["text_clean"] == "" and out[2]["n_removed"] == 0
    assert out[3]["text_clean"] == "" and out[3]["n_removed"] == 0
    # doc 4 duplicates doc 1's whole body -> fully excised; doc 1 keeps
    assert out[1]["text_clean"] == "a b c d e f" and out[1]["n_removed"] == 0
    assert out[4]["text_clean"] == "" and out[4]["n_removed"] == 6


def test_minhash_modes_equivalent(spark, docs):
    """materialize_signatures True (slim join + cached-sig est rejoin)
    and False (merge-hinted sig-carrying join, est at join) are two
    physical shapes of the SAME operator: identical pair sets (with
    identical est values) and identical survivors, with and without the
    hot-bucket guard."""
    from basis_devkit_spark.operators.dedup import (
        minhash_dedup,
        minhash_near_dup_pairs,
    )

    for kw in ({}, {"max_bucket_size": 8}):
        a = {
            tuple(r)
            for r in minhash_near_dup_pairs(
                docs, "doc_id", "text", jaccard_threshold=0.6,
                materialize_signatures=True, **kw
            ).collect()
        }
        b = {
            tuple(r)
            for r in minhash_near_dup_pairs(
                docs, "doc_id", "text", jaccard_threshold=0.6,
                materialize_signatures=False, **kw
            ).collect()
        }
        assert a == b and len(a) > 0
    sa = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", "text", jaccard_threshold=0.6,
            materialize_signatures=True,
        ).collect()
    }
    sb = {
        r["doc_id"]
        for r in minhash_dedup(
            docs, "doc_id", "text", jaccard_threshold=0.6,
            materialize_signatures=False,
        ).collect()
    }
    assert sa == sb


# ------------------------------------------------- scalar-quantized ANN (d16)


def test_quantize_codes_matches_numpy_model(spark, emb):
    """Spark's quantization projection (broadcast stats relation +
    zip_with floor expression) is bit-identical to the independent numpy
    model (IEEE double elementwise) — this is the equivalence the d16
    oracle's candidate modeling rests on."""
    import numpy as np
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        fit_scalar_quantizer,
        quantize_codes,
    )

    quant = fit_scalar_quantizer(emb)
    got = {
        r["vec_id"]: list(r["codes"])
        for r in quantize_codes(emb, quant).select("vec_id", "codes").collect()
    }
    rows = sorted(
        (r["vec_id"], r["embedding"]) for r in emb.select("vec_id", "embedding").collect()
    )
    mat = np.array([e for _, e in rows], dtype=np.float32)
    mn = mat.min(axis=0).astype(np.float64)
    span = mat.max(axis=0).astype(np.float64) - mn
    d = mat.astype(np.float64) - mn
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = np.floor(d / span * 255.0)
    want = np.where(span == 0.0, 0.0, np.clip(raw, 0.0, 255.0)).astype(np.int64)
    for i, (vid, _) in enumerate(rows):
        assert got[vid] == [int(x) for x in want[i]], vid


def test_quantized_topk_recall_and_determinism(spark, emb):
    """refine=4 recall@5 vs exact brute force stays high on the test
    corpus, and passing a persisted quantizer frame (build-once/query-many)
    returns byte-identical results to the in-line fit."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        fit_scalar_quantizer,
        quantized_topk,
    )

    q = emb.filter(F.col("vec_id") < 20)
    res = quantized_topk(q, emb, k=5, refine=4).collect()
    assert len(res) == 20 * 5
    bf = {(r["query_id"], r["match_id"]) for r in brute_force_topk(q, emb, k=5).collect()}
    got = {(r["query_id"], r["match_id"]) for r in res}
    assert len(bf & got) / len(bf) >= 0.9
    quant = fit_scalar_quantizer(emb)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    assert key(res) == key(quantized_topk(q, emb, k=5, refine=4, quant=quant).collect())


def test_quantized_topk_plan_shape(spark, emb):
    """Scale gates: no Window (two-phase top-k only), the quantizer stats
    attach via broadcast HASH joins (no nested loop/cartesian beyond the
    documented broadcast query cross join), and the plan carries no
    per-dimension literal arrays (stats ride as relation data)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import quantized_topk

    q = emb.filter(F.col("vec_id") < 20)
    plan = (
        quantized_topk(q, emb, k=5, refine=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    # the ONLY nested-loop join allowed is the documented coarse
    # broadcast-queries cross scan (the quantized analogue of
    # brute_force_topk); the quantizer-stats joins must be hash joins,
    # never "BroadcastNestedLoopJoin ... Inner"
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) == 1 and "Cross" in bnlj[0], bnlj


# ---------------------------------------- composed IVF x quantized ANN (d20)


def test_ivf_quantized_full_probe_equals_quantized_topk(spark, emb):
    """With nprobe = nlist (every cell probed) the composed operator's
    candidate pool per query is the whole corpus minus self — exactly
    quantized_topk's pool under the same integer coarse ranking — so the
    results must be byte-identical. This pins the cell plumbing: any
    assignment/probe/join defect shows up as a diff."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        ivf_quantized_topk,
        quantized_topk,
    )

    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    q = emb.filter(F.col("vec_id") < 20)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    composed = ivf_quantized_topk(
        q, emb, k=5, nlist=8, nprobe=8, refine=4, centroids=cents,
        score_round=4,
    ).collect()
    flat = quantized_topk(q, emb, k=5, refine=4, score_round=4).collect()
    assert key(composed) == key(flat) and len(composed) == 20 * 5


def test_ivf_quantized_topk_recall_and_artifacts(spark, emb):
    """At nprobe < nlist the composed coarse pass still keeps high recall
    vs exact brute force, and the build-once path (persisted centroids +
    persisted quantizer) is byte-identical to the inline fit."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        fit_scalar_quantizer,
        ivf_quantized_topk,
    )

    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    q = emb.filter(F.col("vec_id") < 20)
    res = ivf_quantized_topk(
        q, emb, k=5, nlist=8, nprobe=4, refine=4, centroids=cents
    ).collect()
    assert len(res) == 20 * 5
    bf = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    got = {(r["query_id"], r["match_id"]) for r in res}
    assert len(bf & got) / len(bf) >= 0.8
    quant = fit_scalar_quantizer(emb)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    assert key(res) == key(
        ivf_quantized_topk(
            q, emb, k=5, nlist=8, nprobe=4, refine=4, centroids=cents,
            quant=quant,
        ).collect()
    )


def test_ivf_quantized_topk_plan_shape(spark, emb):
    """Scale gates for the composed layout: NO all-pairs join anywhere —
    unlike quantized_topk there is no cross scan, so the plan must carry
    zero nested-loop/cartesian joins; no Window (two-phase top-k only);
    centroids and quantizer stats ride broadcast HASH joins."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import ivf_quantized_topk

    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    q = emb.filter(F.col("vec_id") < 20)
    plan = (
        ivf_quantized_topk(q, emb, k=5, nlist=8, nprobe=4, centroids=cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _clustered_embeddings(spark):
    """Planted-cluster fixture — IMPORTED from the probe so the pytest
    recall floor and the OPERATORS_BENCH evidence are measured on the
    byte-identical fixture (a drift in one would silently invalidate
    the cross-reference)."""
    from tools.r11_probes import clustered_embeddings

    return clustered_embeddings(spark)


def test_jl_ivf_topk_recall_on_structured_fixture(spark):
    """d38's production-recommendation evidence (r10 verdict task 2):
    on embeddings WITH low-dimensional structure (16 planted clusters
    in 64-d — the manifold shape real corpora have), the composed
    JL x IVF x int8 pass at the guidance defaults (out_dim=16,
    refine=32) recovers >= 0.9 of the exact top-5 — measured 0.993,
    EQUAL to d20 (no JL) at the same refine while touching 4x fewer
    coarse bytes per row. The shipped random sf* vectors are the
    documented JL worst case (probe: tools/r11_probes.py
    jl_structured; guidance table in the operator docstring)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        jl_ivf_quantized_topk,
    )

    emb = _clustered_embeddings(spark).persist()
    q = emb.filter(F.col("vec_id") < 30)
    exact = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    got = {
        (r["query_id"], r["match_id"])
        for r in jl_ivf_quantized_topk(
            q, emb, k=5, out_dim=16, nlist=8, nprobe=4, refine=32
        ).collect()
    }
    emb.unpersist()
    assert len(got & exact) / len(exact) >= 0.9


def test_quantize_codes_dimension_mismatch_raises(spark, emb):
    """A frame whose vectors don't match the fitted dimension must fail
    fast (assert_true in the output expression), not silently null-pad;
    null vectors still pass through as null codes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        fit_scalar_quantizer,
        quantize_codes,
    )

    quant = fit_scalar_quantizer(emb)
    bad = emb.withColumn("embedding", F.slice("embedding", 1, 3))
    with _pytest.raises(Exception, match="quantize_codes"):
        quantize_codes(bad, quant).collect()
    nulled = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    rows = {r["vec_id"]: r["codes"] for r in quantize_codes(nulled, quant).collect()}
    assert rows[0] is None and rows[1] is not None


# --------------------------------------------- product quantization (d29)


def test_pq_full_refine_equals_brute_force(spark, emb):
    """With k*refine >= |corpus| the ADC coarse pass keeps EVERY corpus
    row as a candidate, so the rescore is a full exact-cosine scan — the
    result must be byte-identical to brute_force_topk (same unrounded
    scores, same (score desc, match_id) tie-breaks). This pins the whole
    pipeline: any encode/LUT/ranking defect shows up as a diff."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import brute_force_topk, pq_topk

    q = emb.filter(F.col("vec_id") < 20)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    full = pq_topk(
        q, emb, k=5, m=8, ksub=16, refine=100, score_round=None
    ).collect()
    assert key(full) == key(brute_force_topk(q, emb, k=5).collect())


def test_pq_encode_matches_python_model(spark, emb):
    """Cross-engine determinism of the codes: the left-to-right double
    fold + first-min argmin in pure Python reproduces every Spark code
    exactly — the property the d29 oracle's candidate model rests on."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import fit_pq_codebook, pq_encode

    m, ksub = 8, 16
    cb = fit_pq_codebook(emb, m=m, ksub=ksub)
    got = {
        r["vec_id"]: list(r["pq_codes"])
        for r in pq_encode(emb, cb, m=m, ksub=ksub).select(
            "vec_id", "pq_codes"
        ).collect()
    }
    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    vecs = {i: v for i, v in rows}
    dim = len(rows[0][1])
    subdim = dim // m
    seeds = [v for _, v in rows[:ksub]]

    def l2sq(a, b):
        d = 0.0
        for x, y in zip(a, b):
            t = (x - y) * (x - y)
            d = d + t
        return d

    for vid, v in vecs.items():
        model = []
        for s in range(m):
            sub = v[s * subdim : (s + 1) * subdim]
            dists = [
                l2sq(sub, seeds[c][s * subdim : (s + 1) * subdim])
                for c in range(ksub)
            ]
            model.append(dists.index(min(dists)))
        assert got[vid] == model, vid


def test_pq_topk_recall_and_artifacts(spark, emb):
    """Moderate-refine recall vs exact brute force is useful and improves
    with refine, and the build-once path (persisted codebook + persisted
    codes relation) is byte-identical to the inline fit."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        fit_pq_codebook,
        pq_encode,
        pq_topk,
    )

    q = emb.filter(F.col("vec_id") < 20)
    bf = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }

    def recall(refine):
        got = {
            (r["query_id"], r["match_id"])
            for r in pq_topk(q, emb, k=5, m=8, ksub=16, refine=refine).collect()
        }
        return len(bf & got) / len(bf)

    r4, r8 = recall(4), recall(8)
    assert r4 >= 0.4 and r8 >= r4 and r8 >= 0.6, (r4, r8)
    cb = fit_pq_codebook(emb, m=8, ksub=16)
    codes = pq_encode(emb, cb, m=8, ksub=16).select("vec_id", "pq_codes")
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    assert key(
        pq_topk(q, emb, k=5, m=8, ksub=16, refine=4, codebook=cb, codes=codes).collect()
    ) == key(pq_topk(q, emb, k=5, m=8, ksub=16, refine=4).collect())


def test_pq_topk_plan_shape(spark, emb):
    """Scale gates: no Window (two-phase top-k only); the codebook
    attaches via one-row broadcast HASH joins (codewords ride as relation
    data, not plan literals); the ONLY nested-loop join is the documented
    coarse broadcast-queries cross scan against the m-int code relation."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import pq_topk

    q = emb.filter(F.col("vec_id") < 20)
    plan = (
        pq_topk(q, emb, k=5, m=8, ksub=16, refine=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert len(bnlj) == 1 and "Cross" in bnlj[0], bnlj


def test_pq_encode_dimension_mismatch_raises(spark, emb):
    """Mis-dimensioned vectors fail fast (assert_true inside the codes
    expression), mirroring quantize_codes' guard; null vectors pass
    through as null codes."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import fit_pq_codebook, pq_encode

    cb = fit_pq_codebook(emb, m=8, ksub=16)
    bad = emb.withColumn("embedding", F.slice("embedding", 1, 3))
    with _pytest.raises(Exception, match="pq_encode"):
        pq_encode(bad, cb, m=8, ksub=16).collect()
    nulled = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(F.col("embedding")),
    )
    rows = {
        r["vec_id"]: r["pq_codes"]
        for r in pq_encode(nulled, cb, m=8, ksub=16).collect()
    }
    assert rows[0] is None and rows[1] is not None


def test_minhash_materialized_cache_release(spark, docs):
    """Materialized-mode calls cache signature frames the returned plan
    reads through; release_signature_caches frees them (2 when the
    hot-bucket collapse is active: collapsed sig + star; 1 otherwise;
    0 for frames that cached nothing)."""
    from basis_devkit_spark.operators.dedup import (
        minhash_dedup,
        release_signature_caches,
    )

    out = minhash_dedup(
        docs, "doc_id", "text", jaccard_threshold=0.6, max_bucket_size=16
    )
    out.count()
    assert release_signature_caches(out) == 2
    out2 = minhash_dedup(docs, "doc_id", "text", jaccard_threshold=0.6)
    out2.count()
    assert release_signature_caches(out2) == 1
    assert release_signature_caches(docs) == 0


# ------------------------------------ perplexity buckets & mixture weights


def test_lm_quality_buckets_matches_naive_window(spark, docs):
    """The value-bucketed two-phase rank must equal the naive global
    row_number() bucketing exactly, buckets must be equal-count (±1),
    and the result must be invariant under input repartitioning."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from basis_devkit_spark.operators.text import (
        bigram_lm_score,
        lm_quality_buckets,
    )

    got = lm_quality_buckets(docs).collect()
    s = bigram_lm_score(docs)
    n = s.count()
    naive = {
        r["doc_id"]: ((r["rnk"] - 1) * 3) // n
        for r in s.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("lm_score"), "doc_id")
            ),
        ).collect()
    }
    assert len(got) == n > 0
    for r in got:
        assert r["bucket"] == naive[r["doc_id"]], r
        assert r["label"] == ["head", "middle", "tail"][r["bucket"]]
    from collections import Counter

    counts = Counter(r["bucket"] for r in got)
    assert max(counts.values()) - min(counts.values()) <= 1
    again = lm_quality_buckets(docs.repartition(7)).collect()
    key = lambda rows: sorted((r["doc_id"], r["bucket"]) for r in rows)
    assert key(again) == key(got)


def test_lm_quality_buckets_no_global_window(spark, docs):
    """Every Window in the plan must be partitioned (parallel); the only
    unpartitioned window allowed is the exclusive prefix over the BOUNDED
    value-bucket list, whose input is an aggregate of ≤ score_range ×
    bucket_scale rows, never the corpus."""
    from basis_devkit_spark.operators.text import lm_quality_buckets

    plan = (
        lm_quality_buckets(docs)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    import re

    # optimized plan prints windows as Window [...], [part spec], [order]
    wins = re.findall(r"Window \[[^\]]*\](?:, \[([^\]]*)\])?", plan)
    # the corpus-rank window partitions by __vb; the bucket-prefix window
    # is global but windows over the tiny __vb aggregate — identified by
    # its frame input being the grouped bucket count column __bn
    global_wins = [w for w in wins if "__vb" not in (w or "")]
    for w in global_wins:
        assert "__bn" in (w or "") or "__boff" in (w or ""), (w, plan)


def test_source_mixture_weights_hand_model(spark):
    """Exact hand-computed weights on a tiny skewed corpus, plus the
    flattening property: alpha < 1 raises small sources' relative weight."""
    from basis_devkit_spark.operators.text import source_mixture_weights

    rows = (
        [("a", i) for i in range(80)]
        + [("b", i) for i in range(16)]
        + [("c", i) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "source string, k int")
    got = {
        r["source"]: r for r in source_mixture_weights(df, alpha=0.5).collect()
    }
    assert got["a"]["n_docs"] == 80 and got["a"]["rel_weight"] == 1.0
    assert got["b"]["share"] == 0.16
    assert got["b"]["rel_weight"] == round((16 / 80) ** 0.5, 6)
    assert got["c"]["rel_weight"] == round((4 / 80) ** 0.5, 6)
    # flattening: with alpha=1 rel equals the raw ratio; alpha=0.5 is above
    raw_c = 4 / 80
    assert got["c"]["rel_weight"] > raw_c


def test_quantized_cells_ingest_equals_build(spark, emb):
    """The ingest-side projection (quantized_cells_assign against the
    fixed artifacts) + indexed query must be byte-identical to the
    one-shot ivf_quantized_topk build — the invariant c15's streamed
    ingest rests on, checked here statically (and in halves: the union
    of two disjoint ingest batches equals the full build)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        fit_scalar_quantizer,
        ivf_quantized_topk,
        ivf_quantized_topk_indexed,
        quantized_cells_assign,
    )

    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").cast("int").alias("cell"),
        F.transform("embedding", lambda x: x.cast("double")).alias("center"),
    )
    quant = fit_scalar_quantizer(emb)
    q = emb.filter(F.col("vec_id") < 20)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    one_shot = ivf_quantized_topk(
        q, emb, k=5, nlist=8, nprobe=4, refine=4, centroids=cents,
        quant=quant,
    ).collect()
    batch_a = quantized_cells_assign(
        emb.filter(F.col("vec_id") % 2 == 0), cents, quant
    )
    batch_b = quantized_cells_assign(
        emb.filter(F.col("vec_id") % 2 == 1), cents, quant
    )
    cells = batch_a.unionByName(batch_b)
    indexed = ivf_quantized_topk_indexed(
        q, cells, emb, cents, quant, k=5, nprobe=4, refine=4
    ).collect()
    assert key(indexed) == key(one_shot) and len(one_shot) > 0


def test_lm_quality_buckets_all_tied_scores(spark):
    """Adversarial tie case: every doc has identical text, so every
    lm_score is identical and ALL rows land in one value-bucket — the
    rank must fall back to the doc_id tie-break, buckets stay
    equal-count, and the result matches the naive formula."""
    from basis_devkit_spark.operators.text import lm_quality_buckets

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma alpha beta") for i in range(12)],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r["doc_id"], r["bucket"]) for r in lm_quality_buckets(docs).collect()
    )
    # identical scores -> rank order is doc_id order -> first 4 head, ...
    assert got == [(i, i * 3 // 12) for i in range(12)]


def test_hashed_logreg_deterministic_and_separates(spark, docs):
    """The deterministic fit is bit-reproducible (two fits identical),
    and the trained scores actually separate the weak classes (mean
    prob of label-1 docs > mean prob of label-0 docs)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.quality_model import (
        fit_hashed_logreg,
        score_hashed_logreg,
    )

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    labeled = docs.withColumn("label", (F.size(toks) >= 8).cast("int"))
    sample = [
        (r["text"], r["label"])
        for r in labeled.orderBy("doc_id").select("text", "label").collect()
    ]
    wq1, b1 = fit_hashed_logreg(sample)
    wq2, b2 = fit_hashed_logreg(sample)
    assert wq1 == wq2 and b1 == b2
    scored = score_hashed_logreg(docs, wq1, b1).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    means = {
        r["label"]: r["m"]
        for r in scored.groupBy("label")
        .agg(F.avg("quality_prob").alias("m"))
        .collect()
    }
    if 0 in means and 1 in means:
        assert means[1] > means[0]


def test_hashed_softmax_langid_holdout_accuracy_and_plan(spark):
    """d39: the multiclass fit is bit-reproducible, classifies ≥90% of
    the HELD-OUT (odd-id) multilingual fixtures correctly, ties/empty
    docs resolve deterministically, and scoring stays JVM-side (no
    Python eval) with the weight relation broadcast."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.quality_model import (
        fit_hashed_softmax,
        score_hashed_softmax,
    )
    from basis_devkit_spark.queries.pyoracle import (
        LANGID_CLASSES,
        LANGID_FIXTURES,
    )

    classes = list(LANGID_CLASSES)
    cls_idx = {c: i for i, c in enumerate(classes)}
    train = [(t, cls_idx[l]) for i, l, t in LANGID_FIXTURES if i % 2 == 0]
    w1, b1 = fit_hashed_softmax(train, num_classes=len(classes))
    w2, b2 = fit_hashed_softmax(train, num_classes=len(classes))
    assert w1 == w2 and b1 == b2  # bit-reproducible
    fixtures = spark.createDataFrame(
        list(LANGID_FIXTURES), "doc_id long, true_lang string, text string"
    )
    out = score_hashed_softmax(fixtures, w1, b1, classes)
    got = {r["doc_id"]: r["lang"] for r in out.collect()}
    truth = {i: l for i, l, _ in LANGID_FIXTURES}
    holdout = [i for i in truth if i % 2 == 1]
    acc = sum(got[i] == truth[i] for i in holdout) / len(holdout)
    assert acc >= 0.9, acc
    # empty text -> bias-only argmax, never null/crash
    empty = spark.createDataFrame([(999, "x", "")], "doc_id long, true_lang string, text string")
    r = score_hashed_softmax(empty, w1, b1, classes).collect()
    assert r[0]["lang"] in classes
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


# ------------------------------------------------- XXH64-TZ sketch (d25)


def test_hll_sketch_merge_equals_rebuild(spark):
    """Registers merge by MAX: sketching two disjoint halves and merging
    must give the exact same registers (and therefore estimate) as
    sketching everything at once — the property that lets partial
    sketches combine across partitions/days at 100 TB."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.sketches import (
        hll_distinct,
        hll_estimate,
        hll_registers,
    )

    df = spark.range(50_000).select((F.col("id") % 7000).alias("v"))
    full = hll_distinct(df, "v", p=10).collect()[0]["est_distinct"]
    a = hll_registers(df.filter(F.col("id") < 25_000), "v", p=10)
    b = hll_registers(df.filter(F.col("id") >= 25_000), "v", p=10)
    merged = (
        a.unionByName(b).groupBy("bucket").agg(F.max("r").alias("r"))
    )
    m_est = hll_estimate(merged, p=10).collect()[0]["est_distinct"]
    assert m_est == full


def test_hll_sketch_accuracy_and_branches(spark):
    """Estimate error stays within a few standard errors (sigma =
    1.04/sqrt(m) ~ 3.25% at p=10) on the raw branch, and the
    linear-counting branch is near-exact for tiny cardinalities."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.sketches import hll_distinct

    big = spark.range(200_000).select((F.col("id") % 30_000).alias("v"))
    est = hll_distinct(big, "v", p=10).collect()[0]["est_distinct"]
    assert abs(est - 30_000) / 30_000 < 0.1
    small = spark.range(1000).select((F.col("id") % 37).alias("v"))
    est2 = hll_distinct(small, "v", p=10).collect()[0]["est_distinct"]
    assert abs(est2 - 37) < 2


def test_bloom_prefilter_decontamination_equals_plain(spark, docs):
    """The bloom screen must change nothing (no false negatives; false
    positives die in the exact join) — byte-equal to ngram_contamination
    even with a deliberately tiny, collision-heavy filter — and the
    screen itself must actually drop gram rows on disjoint inputs."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.dedup import (
        bloom_build,
        _bloom_screen,
        ngram_contamination,
        ngram_contamination_bloom,
    )

    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    bench = docs.filter(F.col("doc_id") % 5 == 0)
    key = lambda rows: sorted((r["doc_id"], r["shared_grams"]) for r in rows)
    plain = ngram_contamination(corpus, bench, shingle_size=3).collect()
    for m_bits in (1 << 8, 1 << 16):  # tiny filter = heavy false positives
        got = ngram_contamination_bloom(
            corpus, bench, shingle_size=3, m_bits=m_bits, k=4
        ).collect()
        assert key(got) == key(plain)
    # screening power: values not in the filter are mostly dropped
    vals = spark.range(5000).select(
        F.concat(F.lit("absent-"), F.col("id")).alias("v")
    )
    present = spark.range(100).select(
        F.concat(F.lit("present-"), F.col("id")).alias("v")
    )
    bloom = bloom_build(present, "v", m_bits=1 << 16, k=4)
    kept = _bloom_screen(vals, "v", bloom, 1 << 16, 4).count()
    assert kept < 250  # fp rate well under 5% at this fill
    kept_present = _bloom_screen(present, "v", bloom, 1 << 16, 4).count()
    assert kept_present == 100  # zero false negatives


def test_cms_merge_never_underestimates_and_bounds(spark):
    """Count-min invariants: (1) two halves merged by SUM == full
    rebuild, cell-exact; (2) estimates never underestimate the true
    count; (3) with width >> distinct values the estimate is exact."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.sketches import cms_build, cms_estimate

    df = spark.range(30_000).select(
        F.concat(F.lit("t"), (F.col("id") % 500)).alias("v")
    )
    full = cms_build(df, "v", width=1 << 12, depth=4)
    a = cms_build(df.filter(F.col("id") < 15_000), "v", 1 << 12, 4)
    b = cms_build(df.filter(F.col("id") >= 15_000), "v", 1 << 12, 4)
    merged = (
        a.unionByName(b).groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))
    )
    key = lambda x: sorted((r["row"], r["col"], r["cnt"]) for r in x.collect())
    assert key(merged) == key(full)
    probes = df.select("v").distinct()
    est = {
        r["v"]: r["est_count"]
        for r in cms_estimate(probes, full, "v", 1 << 12, 4).collect()
    }
    # every value occurs exactly 60 times; width 4096 >> 500 distinct ->
    # per-row collision chance is low and MIN over 4 rows is exact here
    assert all(e >= 60 for e in est.values())
    assert sum(1 for e in est.values() if e == 60) >= 490
    absent = spark.createDataFrame([("never-seen",)], "v string")
    got = cms_estimate(absent, full, "v", 1 << 12, 4).collect()[0]
    assert got["est_count"] >= 0


def test_pagerank_fixed_point_properties(spark):
    """Structural invariants on a known graph: the sink every node links
    to out-ranks everyone; total rank mass ~1; the ranking is invariant
    under input repartitioning (integer arithmetic, no float sums)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.graphrank import pagerank_fixed_point

    # star: a,b,c,d all link to hub; hub links back to a
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("d", "hub"), ("hub", "a")],
        "src string, dst string",
    )
    r = {x["node"]: x["rank"] for x in pagerank_fixed_point(edges).collect()}
    # hub and a trade the bulk of the mass (hub's entire rank flows to a
    # each round); both must dominate the leaf nodes b/c/d
    assert min(r["hub"], r["a"]) > r["b"] == r["c"] == r["d"]
    assert abs(sum(r.values()) - 1.0) < 0.01
    again = {
        x["node"]: x["rank"]
        for x in pagerank_fixed_point(edges.repartition(7)).collect()
    }
    assert again == r


def test_exact_dedup_unique_order_equals_window_form(spark):
    """The agg+semi-join keep-first form must equal the window form when
    the order column is unique per key group, and its plan must carry no
    Window (the hot-key scale property)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, f"k{i % 7}", f"v{i}") for i in range(200)],
        "rid int, k string, v string",
    )
    key = lambda rows: sorted((r["rid"], r["k"], r["v"]) for r in rows)
    for keep in ("first", "last"):
        a = exact_dedup(df, ["k"], order_by="rid", keep=keep).collect()
        b = exact_dedup(
            df, ["k"], order_by="rid", keep=keep, unique_order=True
        ).collect()
        assert key(a) == key(b) and len(a) == 7
    plan = (
        exact_dedup(df, ["k"], order_by="rid", unique_order=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_exact_dedup_unique_order_null_keys_and_order(spark):
    """r8 advisor: the agg+semi-join path dropped groups whose key (or
    winning order value) was NULL. It must now match the window path:
    NULL keys form their own group; NULL order values sort first for
    keep='first' (asc default) and last for keep='last' (desc default)."""
    from basis_devkit_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "a", "x1"),
            (2, "a", "x2"),
            (None, "a", "x3"),   # null order value inside a group
            (5, None, "y1"),     # null-key group
            (6, None, "y2"),
            (7, "b", "z1"),
        ],
        "rid int, k string, v string",
    )
    key = lambda rows: sorted(
        (repr(r["rid"]), repr(r["k"]), r["v"]) for r in rows
    )
    for keep in ("first", "last"):
        a = exact_dedup(df, ["k"], order_by="rid", keep=keep).collect()
        b = exact_dedup(
            df, ["k"], order_by="rid", keep=keep, unique_order=True
        ).collect()
        assert key(a) == key(b), (keep, key(a), key(b))
        assert len(b) == 3  # groups a, b, NULL all survive


def test_cms_estimate_grouped(spark):
    """Grouped sketches probe within their own group only; probing a
    grouped sketch without group_cols is rejected (r8 advisor: the old
    join on (row, col) alone took the min across groups and silently
    underestimated)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.sketches import cms_build, cms_estimate

    df = spark.range(0, 3000).select(
        F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("g"),
        (F.col("id") % 10).cast("string").alias("v"),
    )
    sk = cms_build(df, "v", width=1 << 12, depth=4, group_cols=["g"])
    probes = spark.createDataFrame(
        [("even", "0"), ("odd", "0"), ("even", "1"), ("odd", "1")],
        "g string, v string",
    )
    got = {
        (r["g"], r["v"]): r["est_count"]
        for r in cms_estimate(
            probes, sk, "v", 1 << 12, 4, group_cols=["g"]
        ).collect()
    }
    # exact truth: value "0" appears only in even rows, "1" only in odd
    assert got[("even", "0")] == 300 and got[("odd", "0")] == 0
    assert got[("even", "1")] == 0 and got[("odd", "1")] == 300
    with _pytest.raises(ValueError, match="grouping columns"):
        cms_estimate(probes, sk, "v", 1 << 12, 4)


def test_fit_pq_codebook_rejects_short_corpus(spark):
    """r8 advisor: fewer than ksub seed vectors misaligns the packed
    flat index (sub*ksub + code); the fit must fail loudly instead."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import fit_pq_codebook

    emb = spark.range(0, 5).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") + i).cast("double") for i in range(8)]).alias(
            "embedding"
        ),
    )
    with _pytest.raises(Exception, match="seed vectors"):
        fit_pq_codebook(emb, m=4, ksub=16).collect()


# ------------------------------------------------- BPE induction (d30)


def test_bpe_apply_greedy_fold_semantics(spark):
    """One round merges left-to-right without re-merging its own output:
    pair (a,a) over 'aaa' yields [aa, a, </w>], and a rank-ordered table
    applies merges in sequence (chars -> 'ab' -> 'ab</w>')."""
    from basis_devkit_spark.operators.bpe import bpe_apply

    mt = spark.createDataFrame(
        [(0, "a", "a", "aa", 9)],
        "merge_rank int, left string, right string, merged string, pair_count long",
    )
    df = spark.createDataFrame([("aaa",)], "text string")
    [row] = bpe_apply(df, mt).collect()
    assert list(row["bpe_tokens"]) == ["aa", "a", "</w>"]
    mt2 = spark.createDataFrame(
        [(0, "a", "b", "ab", 9), (1, "ab", "</w>", "ab</w>", 9)],
        "merge_rank int, left string, right string, merged string, pair_count long",
    )
    df2 = spark.createDataFrame([("ab ba",)], "text string")
    [row2] = bpe_apply(df2, mt2).collect()
    assert list(row2["bpe_tokens"]) == ["ab</w>", "b", "a", "</w>"]


def test_bpe_learn_deterministic_and_artifact_path(spark, docs):
    """Learned merges are invariant under corpus repartitioning (integer
    pair sums are associative), and the precomputed-words build-once path
    returns the identical table."""
    from basis_devkit_spark.operators.bpe import _word_weights, bpe_learn_merges

    key = lambda df: [tuple(r) for r in df.orderBy("merge_rank").collect()]
    base = key(bpe_learn_merges(docs, "text", num_merges=5))
    assert len(base) == 5
    repart = key(bpe_learn_merges(docs.repartition(13), "text", num_merges=5))
    assert base == repart
    words = _word_weights(docs, "text")
    assert base == key(bpe_learn_merges(docs, "text", num_merges=5, words=words))


def test_bpe_batched_merges_match_python_model(spark, docs):
    """batch_merges=N: greedy disjoint admission from the top-N pairs per
    round, exactly mirrored by the pyoracle model; batch_merges=1 equals
    classic sequential BPE; merge counts carry pre-batch values."""
    from basis_devkit_spark.operators.bpe import bpe_learn_merges

    key = lambda df: [tuple(r) for r in df.orderBy("merge_rank").collect()]
    classic = key(bpe_learn_merges(docs, "text", num_merges=6))
    assert classic == key(
        bpe_learn_merges(docs, "text", num_merges=6, batch_merges=1)
    )
    batched = key(
        bpe_learn_merges(docs, "text", num_merges=6, batch_merges=3)
    )
    assert len(batched) == 6
    # per-batch disjointness: symbols within each admitted batch never
    # collide (ranks are assigned in admission order, so each round's
    # admissions are contiguous) — validated indirectly by the model match
    # below, directly here on the first round's worth of rows
    import collections

    # exact cross-engine reproduction by the independent Python model over
    # the same corpus
    import pandas as pd

    pdf = docs.select("doc_id", "text").toPandas()
    wc: collections.Counter = collections.Counter()
    import re

    for t in pdf["text"]:
        for w in re.split(r"\s+", (t or "").lower()):
            if w:
                wc[w] += 1
    vocab = {tuple(list(w) + ["</w>"]): c for w, c in wc.items()}
    merges = []
    while len(merges) < 6:
        pc: collections.Counter = collections.Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        top = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        used, batch = set(), []
        for (l, r), cnt in top:
            if len(merges) + len(batch) >= 6:
                break
            if {l, r, l + r} & used:
                continue
            used |= {l, r, l + r}
            batch.append((l, r, int(cnt)))
        for l, r, cnt in batch:
            merges.append((len(merges), l, r, l + r, cnt))
            nxt = {}
            for syms, c in vocab.items():
                out = []
                for x in syms:
                    if out and out[-1] == l and x == r:
                        out[-1] = l + r
                    else:
                        out.append(x)
                k = tuple(out)
                nxt[k] = nxt.get(k, 0) + c
            vocab = nxt
    assert batched == merges


def test_bpe_apply_uses_learned_merges(spark, docs):
    """Applying the learned table actually compresses: token count per
    doc is strictly below the char+EOW count, and every emitted
    multi-char token (sans EOW) is a learned merge product."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import bpe_learn_merges, bpe_apply

    mt = bpe_learn_merges(docs, "text", num_merges=6)
    learned = {r["merged"] for r in mt.collect()}
    sample = docs.orderBy("doc_id").limit(20)
    out = bpe_apply(sample, mt)
    rows = out.select("doc_id", "bpe_tokens").collect()
    assert rows
    seen_merged = set()
    for r in rows:
        toks = list(r["bpe_tokens"])
        for t in toks:
            base = t[:-4] if t.endswith("</w>") else t
            if len(t) > 1 and t != "</w>":
                assert t in learned or (len(base) <= 1 and t.endswith("</w>")), t
            if t in learned:
                seen_merged.add(t)
    assert seen_merged  # merges really fire on real text


def test_bpe_apply_plan_is_pure_projection(spark, docs):
    """Tokenization with a learned table is shuffle-free: the apply plan
    contains no Exchange, no Window, no UDF eval — it composes with
    downstream packing at any scale."""
    from basis_devkit_spark.operators.bpe import bpe_learn_merges, bpe_apply

    mt = bpe_learn_merges(docs, "text", num_merges=3)
    plan = (
        bpe_apply(docs, mt)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("broadcast_vocab", [True, False])
def test_bpe_apply_indexed_equals_fold(spark, docs, broadcast_vocab):
    """d37 semantics: the vocabulary-indexed apply (explode -> vocab
    join -> position-sorted regroup) reproduces bpe_apply's greedy
    fold tokenization BYTE-FOR-BYTE, including empty/null-text docs, and
    the emitted vocab costs no refit. Both vocab-join strategies are
    equivalence-gated: broadcast (the default) and the
    ``broadcast_vocab=False`` escape hatch for vocabularies bigger than
    executor broadcast budget, whose plan must carry NO broadcast of
    the vocab side (AQE picks a shuffled/sort-merge join)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_indexed,
        bpe_learn_merges,
    )

    extra = spark.createDataFrame(
        [(9001, ""), (9002, None), (9003, "  ")],
        "doc_id long, text string",
    )
    d = docs.select("doc_id", "text").unionByName(extra)
    mt, vocab = bpe_learn_merges(d, "text", num_merges=6, emit_vocab=True)
    a = bpe_apply(d, mt).select(
        "doc_id", F.concat_ws("\x01", "bpe_tokens").alias("s")
    )
    b = bpe_apply_indexed(
        d, vocab, mt, broadcast_vocab=broadcast_vocab
    ).select("doc_id", F.concat_ws("\x01", "bpe_tokens").alias("s2"))
    j = a.join(b, "doc_id")
    assert j.count() == d.count()
    assert j.filter(F.col("s") != F.col("s2")).count() == 0
    if not broadcast_vocab:
        # the escape hatch must not silently re-broadcast: no broadcast
        # hint survives on the vocab side of the word join (AQE may
        # still pick a broadcast join from SIZE stats on this tiny test
        # vocab, so gate the optimized logical plan's join hint, not
        # the physical operator)
        opt = (
            bpe_apply_indexed(d, vocab, mt, broadcast_vocab=False)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "strategy=broadcast" not in opt


def test_bpe_apply_indexed_oov_and_plan_depth(spark, docs):
    """OOV words fall back to char+EOW with only the first
    ``oov_merge_depth`` merges folded, and the inline-fold count in the
    plan is capped by that parameter BY CONSTRUCTION — independent of
    the merge-table size (the vocab-scale contract: merges live in
    data, not in the expression tree)."""
    from basis_devkit_spark.operators.bpe import (
        bpe_apply_indexed,
        bpe_learn_merges,
    )

    mt, vocab = bpe_learn_merges(docs, "text", num_merges=8, emit_vocab=True)
    oov = spark.createDataFrame(
        [(1, "zzqxv zzqxv")], "doc_id long, text string"
    )
    toks = bpe_apply_indexed(
        oov, vocab, mt, oov_merge_depth=2
    ).collect()[0]["bpe_tokens"]
    # unseen word -> character symbols (+ EOW), possibly early-merged
    assert toks and all(len(t.replace("</w>", "")) <= 2 for t in toks)

    def n_folds(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "aggregate("
        )

    deep = n_folds(bpe_apply_indexed(docs, vocab, mt, oov_merge_depth=4))
    none = n_folds(bpe_apply_indexed(docs, vocab, mt, oov_merge_depth=0))
    assert none == 0
    assert 0 < deep <= 4  # capped by the parameter, not the 8-row table


@pytest.mark.parametrize("broadcast_vocab", [True, False])
def test_bpe_counts_indexed_equals_apply_sizes(spark, docs, broadcast_vocab):
    """d40: the counts-only indexed path (broadcast (word, n_sub) longs,
    one map-side-combinable SUM — no token-array regroup) agrees exactly
    with size(bpe_apply_indexed(...).bpe_tokens), including OOV words
    under the capped fold and empty/null-text docs (count 0) — under
    both vocab-join strategies (``broadcast_vocab=False`` is the
    huge-vocab escape hatch)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import (
        bpe_apply_indexed,
        bpe_learn_merges,
        bpe_token_counts_indexed,
    )

    extra = spark.createDataFrame(
        [(9001, ""), (9002, None), (9003, "zzqxv hello zzqxv")],
        "doc_id long, text string",
    )
    d = docs.select("doc_id", "text").unionByName(extra)
    mt, vocab = bpe_learn_merges(docs, "text", num_merges=6, emit_vocab=True)
    full = bpe_apply_indexed(d, vocab, mt, oov_merge_depth=2).select(
        "doc_id", F.size("bpe_tokens").cast("long").alias("__n_full")
    )
    fast = bpe_token_counts_indexed(
        d, vocab, mt, oov_merge_depth=2, broadcast_vocab=broadcast_vocab
    )
    j = fast.join(full, "doc_id")
    assert j.count() == d.count()
    assert j.filter(F.col("n_bpe_tokens") != F.col("__n_full")).count() == 0
    assert (
        fast.filter(F.col("doc_id").isin(9001, 9002))
        .filter(F.col("n_bpe_tokens") != 0)
        .count()
        == 0
    )


def test_bpe_counts_indexed_plan_partial_agg(spark, docs):
    """d40's shuffle-payload claim, gated in the plan: the per-doc count
    SUM must have a map-side partial phase (partial_sum before the
    doc_id exchange), the vocab join must be broadcast, and there is no
    collect_list/sort of token arrays anywhere."""
    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
    )

    mt, vocab = bpe_learn_merges(docs, "text", num_merges=4, emit_vocab=True)
    plan = (
        bpe_token_counts_indexed(docs, vocab, mt)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "collect_list" not in plan
    assert "Window" not in plan


def test_bpe_tokenize_words_matches_emitted_vocab(spark, docs):
    """The refit-free chunked vocab builder (localCheckpoint every
    ``chunk`` folds — bounded plan depth) produces exactly the
    vocabulary the fit emits."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_tokenize_words,
    )

    mt, vocab = bpe_learn_merges(docs, "text", num_merges=7, emit_vocab=True)
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("word")
        )
        .filter(F.col("word") != "")
        .distinct()
    )
    # chunk=3 < 7 merges forces at least two checkpoint boundaries
    v2 = bpe_tokenize_words(words, mt, chunk=3)
    j = vocab.join(v2.withColumnRenamed("subwords", "s2"), "word")
    assert j.count() == vocab.count() == v2.count()
    assert (
        j.filter(
            F.concat_ws("\x01", "subwords") != F.concat_ws("\x01", "s2")
        ).count()
        == 0
    )


def test_strip_html_semantics(spark):
    """HTML stripping: script/style/comment contents vanish, tags
    become spaces, entities decode one level (&amp;lt; -> &lt;), null
    text yields empty, and the shrink counters are exact."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import strip_html

    rows = [
        (1, '<p>Hello <b>world</b></p>'),
        (2, '<script>alert("x < 1 && y > 2")</script>keep'),
        (3, '<style>\n.a { x: 1 }\n</style>text'),
        (4, 'a <!-- hidden\nprose --> b'),
        (5, 'x &amp;lt; y &nbsp; &quot;q&quot; &#39;s&#39;'),
        (6, None),
        (7, 'no markup at all'),
        (8, '<SCRIPT TYPE="x">UPPER</SCRIPT>ok <BR>line'),
    ]
    df = spark.createDataFrame(rows, "i int, text string")
    got = {r["i"]: r.asDict() for r in strip_html(df).collect()}
    assert got[1]["text_plain"] == "Hello world"
    assert got[2]["text_plain"] == "keep"
    assert got[3]["text_plain"] == "text"
    assert got[4]["text_plain"] == "a b"
    # one decode level: &amp;lt; -> &lt; (never < )
    assert got[5]["text_plain"] == "x &lt; y \"q\" 's'"
    assert got[6]["text_plain"] == "" and got[6]["n_chars_raw"] == 0
    assert got[7]["text_plain"] == "no markup at all"
    assert got[8]["text_plain"] == "ok line"  # case-insensitive script
    assert got[1]["n_chars_plain"] == len("Hello world")
    assert got[1]["n_chars_raw"] == len(rows[0][1])
    plan = strip_html(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_oov_rate_handcomputed(spark):
    """Token vs type OOV on a hand-built corpus: occurrences and
    distinct words counted independently, per-group isolation, empty
    text contributes nothing, rates floor-scaled."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import oov_rate

    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",)], "word string"
    )
    docs = spark.createDataFrame(
        [
            (1, "g1", "the cat sat"),            # 0 OOV
            (2, "g1", "the DOG sat sat dog"),    # dog x2 OOV (lowered)
            (3, "g2", "zebra zebra zebra"),      # all OOV, one type
            (4, "g2", ""),                       # nothing
        ],
        "doc_id long, g string, text string",
    )
    got = {
        r["g"]: r.asDict()
        for r in oov_rate(docs, vocab, "text", "g").collect()
    }
    g1 = got["g1"]
    assert g1["n_tokens"] == 8 and g1["n_oov_tokens"] == 2
    assert g1["n_types"] == 4 and g1["n_oov_types"] == 1  # 'dog'
    assert g1["oov_token_rate"] == 0.25 and g1["oov_type_rate"] == 0.25
    g2 = got["g2"]
    assert g2["n_tokens"] == 3 and g2["n_oov_tokens"] == 3
    assert g2["n_types"] == 1 and g2["oov_token_rate"] == 1.0


def test_bpe_vocab_join_auto_sizing(spark, docs, tmp_path, caplog):
    """r10 verdict task 7 (+ r12 hardening): with broadcast_vocab unset,
    the vocab join strategy comes from the vocabulary's ROW COUNT — at
    or below BROADCAST_VOCAB_MAX_ROWS the plan keeps the broadcast
    hint, above it the hint is dropped (AQE's shuffled hash join), with
    no caller change. A store-read vocab carries the manifest's
    persisted record_count BOTH as an attribute rider and as column
    metadata in the plan, so the decision costs no count job even
    through an intervening select/filter; a frame with neither emits an
    observable fallback log line before counting."""
    import logging

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_token_counts_indexed,
    )
    from basis_devkit_spark.storage.store import TableStore

    mt, vocab = bpe_learn_merges(docs, "text", num_merges=4, emit_vocab=True)

    def has_hint(voc):
        opt = (
            bpe_token_counts_indexed(docs, voc, mt)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        return "strategy=broadcast" in opt

    # small vocab, no rider: fallback path logs, counts once, caches
    with caplog.at_level(
        logging.INFO, logger="basis_devkit_spark.operators.bpe"
    ):
        assert has_hint(vocab)
    assert any(
        "falling back to a count job" in r.message for r in caplog.records
    )
    assert getattr(vocab, "_bds_row_count", None) == vocab.count()
    # same vocab claimed huge -> shuffled path, no caller change
    vocab._bds_row_count = 10_000_001
    assert not has_hint(vocab)
    # store round-trip: read() exposes the persisted record_count
    store = TableStore(str(tmp_path / "root"), "vocab", spark)
    store.write_replace(vocab)
    off_store = store.read()
    assert getattr(off_store, "_bds_row_count", None) == vocab.count()
    assert has_hint(off_store)
    # r12: an intervening filter/select drops the attribute rider, but
    # the manifest count rides COLUMN METADATA in the plan — sizing
    # still needs no count job and the value acts as an upper bound
    derived = off_store.filter(F.col("word") != "").select(
        "word", "subwords"
    )
    assert getattr(derived, "_bds_row_count", None) is None
    assert (
        derived.schema["word"].metadata.get("bds_record_count")
        == vocab.count()
    )
    caplog.clear()
    with caplog.at_level(
        logging.INFO, logger="basis_devkit_spark.operators.bpe"
    ):
        assert has_hint(derived)
    assert not any(
        "falling back to a count job" in r.message for r in caplog.records
    )
    assert any(
        "column-metadata upper bound" in r.message for r in caplog.records
    )
    # a huge metadata bound flips the derived frame to the shuffled path
    big = derived.withMetadata(
        "word", {"bds_record_count": 10_000_001}
    ).withMetadata("subwords", {"bds_record_count": 10_000_001})
    assert not has_hint(big)


def test_release_tokenizer_vocab_drops_pinned_blocks(spark, docs):
    """The explicit release path for fit artifacts: both vocab producers
    pin exactly one checkpointed backing frame;
    release_tokenizer_vocab() unpersists it deterministically (instead
    of waiting on GC + ContextCleaner) and is idempotent/no-op on
    frames with no backing. Superseded intermediate checkpoints in
    bpe_tokenize_words are released inside the loop, so at most ONE
    checkpoint block set survives the call."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import (
        bpe_learn_merges,
        bpe_tokenize_words,
        release_tokenizer_vocab,
    )

    def cached_rdd_ids():
        # block-level truth: DataFrame.unpersist() no-ops on checkpoints,
        # so assert against the context's storage info, not storage levels
        return {
            i.id()
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0
        }

    def backing_rdd_id(frame):
        return frame._jdf.queryExecution().analyzed().rdd().id()

    mt, vocab = bpe_learn_merges(docs, "text", num_merges=6, emit_vocab=True)
    backing = getattr(vocab, "_bds_backing", None)
    assert backing is not None
    bid = backing_rdd_id(backing)
    assert bid in cached_rdd_ids()  # really pinned
    vocab.count()  # caller materializes (stand-in for a store write)
    release_tokenizer_vocab(vocab)
    assert bid not in cached_rdd_ids()
    release_tokenizer_vocab(vocab)  # idempotent

    words = (
        docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    before = cached_rdd_ids()
    v2 = bpe_tokenize_words(words, mt, chunk=2)  # several boundaries
    b2 = getattr(v2, "_bds_backing", None)
    assert b2 is not None
    bid2 = backing_rdd_id(b2)
    assert bid2 in cached_rdd_ids()
    # superseded intermediate checkpoints were released INSIDE the loop:
    # the build leaves exactly one new pinned block set (the final one)
    assert cached_rdd_ids() - before == {bid2}
    v2.count()
    release_tokenizer_vocab(v2)
    assert bid2 not in cached_rdd_ids()
    # no-backing frames are a clean no-op
    release_tokenizer_vocab(docs)


def test_sequence_pack_shuffled_permutation_and_determinism(spark, docs):
    """d41: the shuffled layout is a PERMUTATION of the id-order layout
    (same docs, same per-doc counts, same total token stream, seq_ids
    covering the same range), genuinely different from id order, and
    byte-identical across re-runs and repartitioning (no RNG state)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        sequence_pack,
        sequence_pack_shuffled,
    )

    plain = sequence_pack(docs, budget=256)
    shuf = sequence_pack_shuffled(docs, budget=256)
    key = lambda df: sorted(
        (r["doc_id"], r["n_tokens"], r["seq_id"], r["seq_offset"])
        for r in df.collect()
    )
    s1 = key(shuf)
    assert s1 == key(sequence_pack_shuffled(docs, budget=256))  # rerun
    assert s1 == key(
        sequence_pack_shuffled(docs.repartition(13), budget=256)
    )
    # permutation of the same stream: identical doc/count sets, same
    # total tokens, same final sequence id
    assert {(d, n) for d, n, _, _ in s1} == {
        (d, n) for d, n, _, _ in key(plain)
    }
    tot = docs.select(
        F.sum(F.size(F.split(F.lower(F.trim("text")), r"\s+")))
    ).collect()[0][0]
    assert max(s for _, _, s, _ in s1) == (tot - 1) // 256
    # and the order really changed: some doc starts in a different seq
    diff = {
        d: s for d, _, s, _ in s1
    } != {d: s for d, _, s, _ in key(plain)}
    assert diff
    # a different salt yields a different (still valid) layout
    s2 = key(sequence_pack_shuffled(docs, budget=256, salt=7))
    assert s2 != s1
    # bucketed two-pass prefix: exactly two Windows — the corpus one
    # partitioned by bucket, the unpartitioned one only over the
    # <=4096-row bucket table (optimizedPlan: AQE's executed plan
    # prints the tree twice and double-counts)
    plan = shuf._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Window") == 2


def test_bpe_tokenized_packing_self_consistent(spark, docs):
    """d31 composition sanity: packing by the real BPE counts yields
    offsets inside the budget, monotone seq_ids in doc order, and each
    doc's n_tokens equals its tokenized array length."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import bpe_apply, bpe_learn_merges
    from basis_devkit_spark.operators.text import sequence_pack

    mt = bpe_learn_merges(docs, "text", num_merges=4)
    counted = bpe_apply(docs, mt).withColumn(
        "bpe_ct", F.size("bpe_tokens").cast("long")
    )
    packed = sequence_pack(counted, budget=512, n_tokens_col="bpe_ct")
    rows = packed.orderBy("doc_id").collect()
    sizes = {
        r["doc_id"]: r["bpe_ct"]
        for r in counted.select("doc_id", "bpe_ct").collect()
    }
    assert all(0 <= r["seq_offset"] < 512 for r in rows)
    assert all(r["n_tokens"] == sizes[r["doc_id"]] for r in rows)
    cum = 0
    for r in rows:
        assert r["seq_id"] == cum // 512 and r["seq_offset"] == cum % 512
        cum += r["n_tokens"]


def test_hist_sketch_merge_accuracy_and_edges(spark):
    """Quantile histogram sketch: halves summed equal the full build
    cell-exact; every interpolated estimate is within one bin width of
    the true quantile value; a constant column (width 0) estimates the
    constant itself."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.sketches import (
        hist_build,
        hist_fit,
        hist_quantiles,
    )

    li = load(spark, "/root/testdata/sf0.001", "lineitem")
    fit = hist_fit(li, "l_extendedprice", 256)
    full = hist_build(li, "l_extendedprice", 256, fit=fit)
    h1 = hist_build(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_extendedprice", 256, fit=fit
    )
    h2 = hist_build(
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice", 256, fit=fit
    )
    merged = h1.unionByName(h2).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, merged.collect()))

    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    est = {r["q"]: r["est"] for r in hist_quantiles(full, fit, qs).collect()}
    [frow] = fit.collect()
    width = frow["width"]
    true = li.agg(
        *[
            F.expr(
                f"percentile(cast(l_extendedprice as double), {q})"
            ).alias(str(q))
            for q in qs
        ]
    ).collect()[0]
    for q in qs:
        assert abs(est[q] - true[str(q)]) <= width, (q, est[q], true[str(q)], width)

    const = spark.range(100).select(F.lit(7.5).alias("x"))
    cfit = hist_fit(const, "x", 64)
    chist = hist_build(const, "x", 64, fit=cfit)
    [crow] = hist_quantiles(chist, cfit, [0.5]).collect()
    assert crow["est"] == 7.5


# ------------------------------------------------- DSIR importance (d34)


def test_dsir_scores_favor_target_and_are_partition_invariant(spark, docs):
    """DSIR sanity: (1) docs from the target source score higher on
    average than the rest (the selection signal exists); (2) scores are
    exact integers, invariant under repartitioning (integer sums);
    (3) every doc appears exactly once, empty docs score 0 grams."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.dsir import dsir_pipeline

    d = docs.withColumn(
        "source", F.concat(F.lit("s"), (F.col("doc_id") % 4).cast("string"))
    )
    target = d.filter(F.col("source") == "s0")
    scored = dsir_pipeline(d, target, "text", "doc_id")
    rows = {r["doc_id"]: (r["dsir_score"], r["n_grams"]) for r in scored.collect()}
    assert len(rows) == d.count()
    t_ids = {r["doc_id"] for r in target.select("doc_id").collect()}
    t_avg = sum(rows[i][0] / max(rows[i][1], 1) for i in t_ids) / len(t_ids)
    o_ids = set(rows) - t_ids
    o_avg = sum(rows[i][0] / max(rows[i][1], 1) for i in o_ids) / len(o_ids)
    assert t_avg > o_avg, (t_avg, o_avg)
    again = {
        r["doc_id"]: (r["dsir_score"], r["n_grams"])
        for r in dsir_pipeline(
            d.repartition(13), target, "text", "doc_id"
        ).collect()
    }
    assert again == rows


def test_dsir_score_plan_is_broadcast_join_no_window(spark, docs):
    """The scoring path must be explode + BroadcastHashJoin on the
    bounded weight relation + one hash agg — no Window, no cartesian,
    no sort-merge shuffle of the corpus against the weights."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.dsir import (
        dsir_bucket_counts,
        dsir_score,
        dsir_weights,
    )

    rc = dsir_bucket_counts(docs)
    tc = dsir_bucket_counts(docs.limit(20))
    rows, default_w = dsir_weights(rc, tc)
    scored = dsir_score(docs, rows, default_w=default_w)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "Cartesian" not in plan
    assert "SortMergeJoin" not in plan


def test_dsir_empty_doc_scores_zero(spark):
    from basis_devkit_spark.operators.dsir import dsir_score

    df = spark.createDataFrame(
        [(1, "hello hello"), (2, ""), (3, None)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["dsir_score"], r["n_grams"])
        for r in dsir_score(df, [(0, 5)], default_w=7).collect()
    }
    assert got[2] == (0, 0) and got[3] == (0, 0)
    # doc 1: grams = [hello, hello, 'hello hello'] -> 3 grams, every
    # bucket unseen in the 1-row weight table unless it collides with 0
    assert got[1][1] == 3


# ------------------------------------------------- JL projection (d35)


def test_jl_projection_preserves_geometry_and_is_pure_projection(spark):
    """JL sanity: norms are preserved in expectation (mean relative
    distortion of squared norms under the ±1 construction is small for
    k=16), the integer components are partition-invariant, and the plan
    is a pure projection — no Exchange, no UDF eval."""
    import math
    import random

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.embeddings import jl_project

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    proj = jl_project(df, "embedding", "jl", out_dim=16)
    got = proj.select("vec_id", "jl_f", "embedding").collect()
    dist = []
    for r in got:
        n_in = sum(x * x for x in r["embedding"])
        # E[||out||^2] = k * ||v||^2 for the ±1 construction
        n_out = sum(x * x for x in r["jl_f"]) / 16.0
        dist.append(abs(n_out - n_in) / n_in)
    assert sum(dist) / len(dist) < 0.5, sum(dist) / len(dist)
    # partition invariance of the exact integer components
    a = {(r["vec_id"], tuple(r["jl"])) for r in proj.select("vec_id", "jl").collect()}
    b = {
        (r["vec_id"], tuple(r["jl"]))
        for r in jl_project(df.repartition(13), "embedding", "jl", 16)
        .select("vec_id", "jl")
        .collect()
    }
    assert a == b
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_jl_project_null_vectors_pass_through_as_null(spark):
    """The magnitude rail must not fire on NULL embeddings: forall over
    a null array is NULL and assert_true(NULL) throws, so the guard ORs
    the null case in (mirroring quantize_codes). Null vectors project to
    null output; genuine rail violations still raise."""
    import pytest

    from basis_devkit_spark.operators.embeddings import jl_project

    df = spark.createDataFrame(
        [(1, [0.5, -0.25, 1.0]), (2, None), (3, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["jl"], r["jl_f"])
        for r in jl_project(df, "embedding", "jl", out_dim=4).collect()
    }
    assert got[2] == (None, None)
    assert got[1][0] is not None and len(got[1][0]) == 4
    assert got[3][0] == [0, 0, 0, 0]
    # the rail still fires loudly on genuine magnitude violations
    bad = spark.createDataFrame(
        [(1, [2.0e9, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception) as ei:
        jl_project(bad, "embedding", "jl", out_dim=4).collect()
    assert "exceeds the exact-integer rails" in str(ei.value)


def test_jl_topk_full_refine_equals_brute_force_and_recall(spark, emb):
    """With k*refine >= |corpus| the JL coarse pass keeps every corpus
    row, so the rescore must be byte-identical to brute_force_topk; at
    the production refine the coarse integer dot still finds most true
    neighbors (recall sanity), and the plan carries no Window."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import brute_force_topk, jl_topk

    q = emb.filter(F.col("vec_id") < 20)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    full = jl_topk(q, emb, k=5, refine=100_000, score_round=None).collect()
    assert key(full) == key(brute_force_topk(q, emb, k=5).collect())
    truth = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    def recall(refine: int) -> float:
        got = {
            (r["query_id"], r["match_id"])
            for r in jl_topk(q, emb, k=5, refine=refine).collect()
        }
        return len(got & truth) / len(truth)

    # near-uniform random embeddings are JL's worst case (all cosines
    # ~0, coarse dots noise-dominated — the same caveat as the IVF
    # recall note in OPERATORS_BENCH.md): assert the DIAL works — recall
    # rises with refine and the floor is well above k/N chance
    r4, r16 = recall(4), recall(16)
    assert r4 >= 0.15, r4
    assert r16 > r4, (r4, r16)
    plan = (
        jl_topk(q, emb, k=5, refine=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan


def test_jl_ivf_quantized_full_probe_equals_brute_force(spark, emb):
    """d38 composition: with nprobe = nlist and k*refine >= |corpus| the
    JL x IVF x int8 coarse pass keeps every corpus row, so the full-
    dimension rescore must be byte-identical to brute_force_topk; at
    production settings the recall dial works and the plan has no
    Window and no cartesian product (the coarse pass is a cell
    equi-join)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.similarity import (
        brute_force_topk,
        jl_ivf_quantized_topk,
    )

    q = emb.filter(F.col("vec_id") < 20)
    key = lambda rows: sorted(
        (r["query_id"], r["match_id"], r["score"], r["rank"]) for r in rows
    )
    full = jl_ivf_quantized_topk(
        q, emb, k=5, nlist=4, nprobe=4, refine=100_000, score_round=None
    ).collect()
    assert key(full) == key(brute_force_topk(q, emb, k=5).collect())
    truth = {
        (r["query_id"], r["match_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r["query_id"], r["match_id"])
            for r in jl_ivf_quantized_topk(
                q, emb, k=5, nlist=8, nprobe=nprobe, refine=16
            ).collect()
        }
        return len(got & truth) / len(truth)

    r2, r8 = recall(2), recall(8)
    assert r8 > r2, (r2, r8)  # probing more reduced-space cells helps
    assert r2 >= 0.1, r2
    plan = (
        jl_ivf_quantized_topk(q, emb, k=5, nlist=8, nprobe=4, refine=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_decode_roundtrip_with_literal_marker(spark):
    """d43's lossless contract survives ADVERSARIAL text containing the
    literal end-of-word marker: the marker is an array SYMBOL stripped
    per token (suffix match), never a global string replace, so
    '</w>' inside a word round-trips intact."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import (
        bpe_apply,
        bpe_apply_indexed,
        bpe_decode,
        bpe_learn_merges,
    )

    rows = [
        (1, "foo</w>bar baz"),
        (2, "x</w>"),
        (3, "</w> </w></w>"),
        (4, "plain  words\nhere"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # fit on NEUTRAL text (the precondition: a real vocabulary never
    # assembles the reserved marker out of text characters — a corpus
    # made of markers would, which is out of contract)
    neutral = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(8)],
        "doc_id long, text string",
    )
    mt, vocab = bpe_learn_merges(neutral, "text", num_merges=6, emit_vocab=True)
    want = {
        r["doc_id"]: r["norm"]
        for r in df.select(
            "doc_id",
            F.trim(
                F.regexp_replace(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    r"\s+",
                    " ",
                )
            ).alias("norm"),
        ).collect()
    }
    for toks in (bpe_apply(df, mt), bpe_apply_indexed(df, vocab, mt)):
        got = {
            r["doc_id"]: r["text_decoded"]
            for r in bpe_decode(toks).collect()
        }
        assert got == want, got


def test_repetition_signals_matches_python_model_random(spark):
    """Randomized parity for d44: every signal equals an independent
    pure-Python model on 200 random docs with PLANTED repetition
    (repeated lines, bursty bigrams) — the adversarial shapes the
    near-repetition-free sf corpora never exercise."""
    import math
    import random as _random

    from basis_devkit_spark.operators.text import repetition_signals

    rng = _random.Random(97)
    vocab = ["spam", "ham", "eggs", "the", "end", "xx"]
    docs = []
    for i in range(200):
        lines = []
        for _ in range(rng.randint(0, 8)):
            n = rng.randint(0, 6)
            line = " ".join(rng.choice(vocab) for _ in range(n))
            reps = rng.randint(1, 3)  # plant duplicate lines
            lines.extend([line] * reps)
        docs.append((i, "\n".join(lines) if lines else rng.choice(["", None])))

    def model(text):
        text = text or ""
        ls = [l for l in text.split("\n") if l.strip() != ""]
        n, nd = len(ls), len(dict.fromkeys(ls))
        ac = sum(len(l) for l in ls)
        dc = ac - sum(len(l) for l in dict.fromkeys(ls))
        r6 = lambda num, den: (
            math.floor(num / den * 1e6 + 0.5) / 1e6 if den > 0 else 0.0
        )
        ws = [w for w in text.lower().strip().split() if w]
        gs = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        if gs:
            cnt = {}
            for g in gs:
                cnt[g] = cnt.get(g, 0) + 1
            top = min((-c, g) for g, c in cnt.items())
            tc, tf = -top[0], r6(-top[0], len(gs))
        else:
            tc, tf = 0, 0.0
        return (r6(n - nd, n), r6(dc, ac), tc, tf)

    out = {
        r["doc_id"]: (
            r["dup_line_fraction"], r["dup_line_char_fraction"],
            r["top_bigram_count"], r["top_bigram_fraction"],
        )
        for r in repetition_signals(
            spark.createDataFrame(docs, "doc_id long, text string")
        ).collect()
    }
    for i, text in docs:
        assert out[i] == model(text), (i, text, out[i], model(text))


def test_script_profile_multilingual_handcomputed(spark):
    """d47 on hand-computed multilingual fixtures (the sf corpus is
    ASCII, so the oracle sweep never exercises non-Latin scripts):
    mixed-script and junk shapes, empty/null text."""
    from basis_devkit_spark.operators.text import script_profile

    rows = [
        (1, "abc Привет 北京 123  x"),   # 20 chars: 4 latin, 6 cyr, 2 han, 3 digit, 5 space
        (2, "\x00\x01\x02\x03"),          # junk: no script, no space
        (3, ""),
        (4, None),
    ]
    out = {
        r["doc_id"]: r
        for r in script_profile(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    r6 = lambda a, b: int(a / b * 1e6 + 0.5) / 1e6
    assert out[1]["n_chars"] == 20
    assert out[1]["frac_latin"] == r6(4, 20)
    assert out[1]["frac_cyrillic"] == r6(6, 20)
    assert out[1]["frac_han"] == r6(2, 20)
    assert out[1]["frac_arabic"] == 0.0
    assert out[1]["frac_digit"] == r6(3, 20)
    assert out[1]["frac_space"] == r6(5, 20)
    assert out[2]["n_chars"] == 4
    assert all(out[2][f"frac_{s}"] == 0.0 for s in
               ("latin", "cyrillic", "han", "arabic", "digit", "space"))
    for i in (3, 4):
        assert out[i]["n_chars"] == 0 and out[i]["frac_latin"] == 0.0


def test_robust_outliers_handcomputed(spark):
    """Modified z against hand-computed median/MAD, breakdown vs the
    mean/stddev z (one extreme point must not mask itself), zero-MAD
    group gets NULL z / false flag, and the plan broadcasts both
    statistic relations."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import robust_outliers

    rows = [("g1", float(v)) for v in (1, 2, 3, 4, 5, 6, 7, 8, 9)] + [
        ("g1", 1000.0),          # the outlier
        ("g2", 5.0), ("g2", 5.0), ("g2", 5.0),  # zero-MAD group
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = robust_outliers(df, "v", group_col="g", k=3.5).collect()
    g1 = {r["v"]: r for r in out if r["g"] == "g1"}
    # median of 1..9,1000 = 5.5; residuals |v-5.5| = 4.5..0.5,994.5
    # -> MAD = median(0.5,1.5,...,4.5,994.5) = 2.5
    assert g1[1000.0]["med"] == 5.5 and g1[1000.0]["mad"] == 2.5
    # z(1000) = 0.6745 * 994.5 / 2.5 = 268.3161, floor-scaled 1e6
    assert g1[1000.0]["robust_z"] == 268.3161
    assert g1[1000.0]["is_outlier"] is True
    assert g1[5.0]["is_outlier"] is False
    # zero-MAD group: NULL z, explicit false
    for r in out:
        if r["g"] == "g2":
            assert r["robust_z"] is None and r["is_outlier"] is False
    # global form: pooled median/MAD
    glob = robust_outliers(df.select("v"), "v")
    assert glob.filter(F.col("is_outlier")).count() == 1
    plan = glob._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Window" not in plan and "EvalPython" not in plan


def test_ewma_control_handcomputed(spark):
    """EWMA baseline against hand-computed weighted means, short-series
    normalization, strict exclusion of the current row, NULL-baseline
    first row, and the bounded-frame plan (one window, no Python)."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import ewma_control

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, "u1", t(1), 10.0),
        (2, "u1", t(2), 20.0),
        (3, "u1", t(3), 30.0),
        (4, "u1", t(4), 500.0),  # the spike
        (5, "u2", t(1), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, value double"
    )
    out = {
        r["event_id"]: r
        for r in ewma_control(df, alpha=0.5, window=16, threshold=100.0)
        .collect()
    }
    assert out[1]["ewma_prev"] is None and out[1]["is_alert"] is False
    assert out[2]["ewma_prev"] == 10.0  # single-point baseline
    # baseline for row 3: (20*1 + 10*0.5) / 1.5 = 16.666666...
    assert out[3]["ewma_prev"] == 16.666667
    # baseline for row 4: (30 + 20*0.5 + 10*0.25) / 1.75 = 24.285714...
    assert out[4]["ewma_prev"] == 24.285714
    assert out[4]["deviation"] == 475.714286 and out[4]["is_alert"] is True
    assert out[5]["ewma_prev"] is None  # group isolation
    plan = (
        ewma_control(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") >= 1 and "EvalPython" not in plan
    import pytest as _pt
    with _pt.raises(ValueError):
        ewma_control(df, alpha=1.5)


def test_ewma_control_null_values_excluded_cross_engine(spark):
    """NULL observations contribute NOTHING to the baseline (no weight,
    no position shift) — and the DuckDB oracle shape (list(...) FILTER
    over the same frame) produces the identical fold, so the parity
    holds even when value_col has NULLs (r12 ADVICE)."""
    from datetime import datetime

    import duckdb

    from basis_devkit_spark.operators.timeseries import ewma_control

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = [
        (1, "u1", t(1), 10.0),
        (2, "u1", t(2), None),
        (3, "u1", t(3), 30.0),
        (4, "u1", t(4), 40.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, value double"
    )
    out = {
        r["event_id"]: r
        for r in ewma_control(df, alpha=0.5, window=16, threshold=5.0)
        .collect()
    }
    assert out[2]["ewma_prev"] == 10.0      # baseline exists...
    assert out[2]["deviation"] is None      # ...but a NULL value
    assert out[2]["is_alert"] is False      # scores explicitly false
    assert out[3]["ewma_prev"] == 10.0      # NULL excluded, not zero
    # row 4: [30, 10] weights 1, 0.5 -> 35/1.5
    assert out[4]["ewma_prev"] == 23.333333
    con = duckdb.connect()
    got = con.sql(
        """
        with t(event_id, value) as (values
          (1, 10.0), (2, null), (3, 30.0), (4, 40.0)
        ), o as (
          select event_id, value,
                 list_reverse(list(cast(value as double))
                   filter (where value is not null) over (
                   order by event_id
                   rows between 16 preceding and 1 preceding)) as arr
          from t
        )
        select event_id,
          case when arr is not null and len(arr) > 0 then
            floor(
              list_reduce(list_transform(arr, (x, i) -> x * pow(0.5, i - 1)),
                          (a, b) -> a + b)
              / list_reduce(list_transform(arr, (x, i) -> pow(0.5, i - 1)),
                            (a, b) -> a + b) * 1000000.0 + 0.5) / 1000000.0
          end as ewma_prev
        from o order by event_id
        """
    ).fetchall()
    oracle = {eid: e for eid, e in got}
    for eid in (1, 2, 3, 4):
        assert oracle[eid] == out[eid]["ewma_prev"], eid


def test_winsorize_robust_sketch_dial_and_null_groups(spark):
    """Task r12-#2 + ADVICE medium: (a) method='sketch' swaps exact
    percentiles for the d32 histogram quantiles INSIDE the same
    operator — every bound/median within one bin width of the exact
    value, exact path byte-unchanged; (b) NULL group keys are real
    groups on BOTH paths (null-safe broadcast joins — a curation
    filter must not silently drop unattributed rows)."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import (
        robust_outliers,
        winsorize,
    )

    import numpy as np

    li = (
        load(spark, SF, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag",
                "l_extendedprice")
    )
    nbins = 4096
    exact = winsorize(li, "l_extendedprice", 0.01, 0.99,
                      group_col="l_returnflag")
    sk = winsorize(li, "l_extendedprice", 0.01, 0.99,
                   group_col="l_returnflag", method="sketch", nbins=nbins)
    assert sk.count() == exact.count() == li.count()
    vals = {}
    for r in li.select("l_returnflag", "l_extendedprice").collect():
        vals.setdefault(r["l_returnflag"], []).append(
            float(r["l_extendedprice"])
        )
    vals = {g: np.array(v) for g, v in vals.items()}
    # the sketch targets the inverted-CDF quantile (the order statistic
    # at rank ceil(q*N)) within one bin width — NOT the interpolated
    # percentile, whose distance to the nearest order stat is unbounded
    # across value gaps
    ostat = lambda a, q: float(np.quantile(a, q, method="inverted_cdf"))
    widths = {g: (a.max() - a.min()) / nbins for g, a in vals.items()}
    sb = {r["l_returnflag"]: r for r in
          sk.select("l_returnflag", "clip_lo", "clip_hi").distinct()
          .collect()}
    for g, w in widths.items():
        assert abs(sb[g]["clip_lo"] - ostat(vals[g], 0.01)) <= w + 1e-4, g
        assert abs(sb[g]["clip_hi"] - ostat(vals[g], 0.99)) <= w + 1e-4, g
    ro_e = robust_outliers(li, "l_extendedprice", group_col="l_returnflag")
    ro_s = robust_outliers(li, "l_extendedprice", group_col="l_returnflag",
                           method="sketch", nbins=nbins)
    assert ro_s.count() == ro_e.count() == li.count()
    ms = {r["l_returnflag"]: r for r in
          ro_s.select("l_returnflag", "med", "mad").distinct().collect()}
    for g, w in widths.items():
        assert abs(ms[g]["med"] - ostat(vals[g], 0.5)) <= w + 1e-4, g
        # MAD: residuals against the SKETCH median, residual-range bins
        res = np.abs(vals[g] - ms[g]["med"])
        rw = (res.max() - res.min()) / nbins
        assert abs(ms[g]["mad"] - ostat(res, 0.5)) <= rw + 1e-4, g
    # NULL group: rows survive and get their own statistics, both paths
    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0),
            (None, 10.0), (None, 20.0), (None, 30.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    for m in ("exact", "sketch"):
        w_out = winsorize(df, "v", 0.0, 1.0, group_col="g", method=m)
        assert w_out.count() == 7, m
        nulls = w_out.filter(F.col("g").isNull()).collect()
        assert len(nulls) == 3 and all(
            r["clip_lo"] == 10.0 and r["clip_hi"] == 30.0 for r in nulls
        ), m
        r_out = robust_outliers(df, "v", group_col="g", method=m)
        assert r_out.count() == 7, m
        nmed = {r["med"] for r in r_out.filter(F.col("g").isNull())
                .collect()}
        assert len(nmed) == 1, m
        # sketch lands within one bin width (20/1024) of the 20.0 median
        assert abs(nmed.pop() - 20.0) <= 20.0 / 1024 + 1e-4, m
    with _pt.raises(ValueError):
        winsorize(df, "v", group_col="g", method="tdigest")
    with _pt.raises(ValueError):
        robust_outliers(df, "v", method="tdigest")


def test_kmeans_handcomputed_two_clusters(spark):
    """Distributed Lloyd on a hand-separable 2-D set: deterministic
    lowest-id init, exact centroid means, tie-break to the lowest
    cluster, empty clusters retained, and a pure-projection assignment
    plan (no Python, no Window)."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.clustering import (
        kmeans_assign,
        kmeans_cluster_report,
        kmeans_fit_predict,
    )

    rows = [
        (0, [0.0, 0.0], "a"),
        (1, [10.0, 10.0], "b"),
        (2, [0.0, 1.0], "a"),
        (3, [1.0, 0.0], "c"),
        (4, [10.0, 11.0], "b"),
        (5, [11.0, 10.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, v array<float>, label string"
    )
    asg, cents = kmeans_fit_predict(df, "vec_id", "v", k=2, iters=2)
    got = {r["vec_id"]: r["cluster"] for r in asg.collect()}
    assert got == {0: 0, 2: 0, 3: 0, 1: 1, 4: 1, 5: 1}
    assert cents[0] == [0.333333, 0.333333]
    assert cents[1] == [10.333333, 10.333333]
    rep = {
        r["cluster"]: r
        for r in kmeans_cluster_report(
            df, "vec_id", "v", k=2, iters=2, label_col="label"
        ).collect()
    }
    assert rep[0]["n_vecs"] == 3 and rep[1]["n_vecs"] == 3
    assert rep[0]["majority_label"] == "a"  # 2-of-3; ties break low
    assert rep[1]["majority_label"] == "b" and rep[1]["purity"] == 1.0
    assert round(rep[0]["inertia"], 4) == 1.3333
    # assignment is a pure projection: no Python, no Window, no join
    plan = (
        kmeans_assign(df, "v", cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan and "Window" not in plan
    assert "Join" not in plan


def test_kmeans_empty_cluster_and_ties(spark):
    """Duplicate init points: ties assign to the LOWEST cluster index,
    the starved cluster keeps its previous centroid and reports
    n_vecs=0 (never silently dropped)."""
    from basis_devkit_spark.operators.clustering import (
        kmeans_cluster_report,
    )

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [5.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id long, v array<float>")
    rep = {
        r["cluster"]: r
        for r in kmeans_cluster_report(df, "vec_id", "v", k=3, iters=2)
        .collect()
    }
    assert rep[0]["n_vecs"] == 2
    assert rep[1]["n_vecs"] == 0 and rep[1]["inertia"] == 0.0
    assert rep[2]["n_vecs"] == 1
    import pytest as _pt
    with _pt.raises(ValueError):
        kmeans_cluster_report(df, "vec_id", "v", k=0)


def test_char_entropy_signals_handcomputed(spark):
    """Entropy against hand-computed distributions: uniform 2-char text
    = 1 bit, single-char runs = 0 bits, empty/NULL rows survive with
    n_chars=0 and NULL signals; plan has no Window and no Python."""
    from basis_devkit_spark.operators.text import char_entropy_signals

    rows = [
        (1, "abab"),       # p = {a:.5, b:.5} -> 1 bit
        (2, "aaaa"),       # 0 bits, max ratio 1
        (3, "abcd"),       # uniform over 4 -> 2 bits
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in char_entropy_signals(df).collect()}
    assert out[1]["entropy_bits"] == 1.0
    assert out[1]["n_distinct_chars"] == 2 and out[1]["n_chars"] == 4
    assert out[2]["entropy_bits"] == 0.0
    assert out[2]["max_char_ratio"] == 1.0
    assert out[3]["entropy_bits"] == 2.0
    assert out[3]["distinct_char_ratio"] == 1.0
    for i in (4, 5):
        assert out[i]["n_chars"] == 0 and out[i]["n_distinct_chars"] == 0
        assert out[i]["entropy_bits"] is None
        assert out[i]["max_char_ratio"] is None
    plan = (
        char_entropy_signals(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "EvalPython" not in plan


def test_label_propagation_handcomputed(spark):
    """Two dense 4-cliques joined by one bridge edge: LPA keeps the
    communities separate (where connected_components merges them),
    labels converge to each clique's minimum id, ties break low, and
    the plan is join+agg only (no Window, no Python)."""
    from basis_devkit_spark.operators.graphrank import label_propagation

    clique1 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    clique2 = [(10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13)]
    bridge = [(4, 10)]
    df = spark.createDataFrame(
        clique1 + clique2 + bridge, "id_a long, id_b long"
    )
    out = {r["node"]: r["community"] for r in
           label_propagation(df, iters=3).collect()}
    assert {out[n] for n in (1, 2, 3, 4)} == {1}
    assert {out[n] for n in (10, 11, 12, 13)} == {10}
    # one synchronous round from identity labels: each node takes its
    # smallest-label neighbor under count ties -> node 2 of a triangle
    # (1-2, 2-3, 1-3) sees {1, 3} and picks 1
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "id_a long, id_b long"
    )
    one = {r["node"]: r["community"] for r in
           label_propagation(tri, iters=1).collect()}
    assert one == {1: 2, 2: 1, 3: 1}
    plan = (
        label_propagation(df, iters=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "EvalPython" not in plan


def test_zipf_fit_handcomputed(spark):
    """Exact-Zipf synthetic corpus (freq = 64/rank over 4 terms) must
    fit slope = -1, r2 = 1; the vocab totals count every term; the
    corpus-sized relations never meet a Window (TakeOrdered plan)."""
    import math

    from basis_devkit_spark.operators.text import zipf_fit

    # freqs 8,4,2,1 at dense ranks 1..4: y = (3,2,1,0) over
    # x = log2(1..4); the closed-form OLS is recomputed here in full
    words = ["a"] * 8 + ["b"] * 4 + ["c"] * 2 + ["d"]
    df = spark.createDataFrame([(" ".join(words),)], "text string")
    out = zipf_fit(df, "text", top_r=4).collect()[0]
    assert out["n_vocab"] == 4 and out["n_tokens"] == 15
    assert out["n_fit_terms"] == 4
    xs = [math.log2(r) for r in (1, 2, 3, 4)]
    ys = [3.0, 2.0, 1.0, 0.0]
    n = 4.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    r2 = (n * sxy - sx * sy) ** 2 / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert abs(out["zipf_slope"] - slope) < 1e-4
    assert abs(out["r2"] - r2) < 1e-4
    assert out["zipf_slope"] < 0 and out["r2"] > 0.9
    plan = (
        zipf_fit(df, "text")._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrdered" in plan and "EvalPython" not in plan


def test_pairwise_containment_handcomputed(spark):
    """Quote-inclusion: a 5-shingle doc fully contained in a 10-shingle
    doc scores 1.0 one way, 0.5 the other — while Jaccard reads 0.5;
    disjoint pairs score 0; empty-side pairs report NULL."""
    from basis_devkit_spark.operators.dedup import pairwise_containment

    short = "a b c d e f g"                 # 5 distinct 3-shingles
    long_ = short + " h i j k l"            # 10 shingles, superset
    other = "x y z w v u t"                 # disjoint
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other), (4, "")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    out = {(r["id_a"], r["id_b"]): r
           for r in pairwise_containment(df, pairs).collect()}
    r12 = out[(1, 2)]
    assert r12["n_shared"] == 5
    assert r12["containment_a_in_b"] == 1.0
    assert r12["containment_b_in_a"] == 0.5
    assert r12["max_containment"] == 1.0
    r13 = out[(1, 3)]
    assert r13["n_shared"] == 0 and r13["max_containment"] == 0.0
    r14 = out[(1, 4)]
    # doc 4 has one empty-string shingle after the \s+ split of "";
    # shingle_col of "" yields [""] -> sizes exist; guard only checks
    # NULL-size sides, so assert the asymmetric scores are consistent
    assert r14["containment_a_in_b"] == 0.0


def test_mp3_frame_fields_parse(spark):
    """Hand-built MPEG frame headers: all three versions, Layers I/III,
    syncsafe ID3v2 skip, free-format NULL bitrate, sync-less and
    reserved-version rejection — no UDF in the plan."""
    from basis_devkit_spark.operators.multimodal import mp3_frame_fields

    def hdr(vb, lb, br, sr, pad=0, mode=0):
        return bytes([
            0xFF, 0xE0 | (vb << 3) | (lb << 1) | 1,
            (br << 4) | (sr << 2) | (pad << 1), mode << 6,
        ])

    id3 = (
        b"ID3\x03\x00\x00" + bytes([0, 0, 0, 64]) + b"\x00" * 64
    )
    size32 = bytes([0, 0, 0, 32])
    id3_footered = (
        b"ID3\x04\x00\x10" + size32 + b"\x00" * 32
        + b"3DI\x04\x00\x10" + size32          # footer AFTER the body
    )
    id3_corrupt = (
        b"ID3\x04\x00\x00" + bytes([0x80, 0, 0, 32]) + b"\x00" * 32
    )
    rows = [
        (1, hdr(3, 1, 9, 0, mode=1)),       # V1 L3 128k 44100 joint
        (2, id3 + hdr(3, 1, 14, 1)),         # ID3(64) + V1 L3 320k 48000
        (3, hdr(0, 1, 2, 2, pad=1, mode=3)), # V2.5 L3 16k 8000 mono pad
        (4, hdr(3, 1, 0, 0)),                # free-format
        (5, b"\x00\x01\x02\x03"),            # no sync
        (6, hdr(1, 1, 9, 0)),                # reserved version
        (7, id3_footered + hdr(3, 1, 9, 0)), # v2.4 footer flag: +10 bytes
        (8, id3_corrupt + hdr(3, 1, 9, 0)),  # MSB-set syncsafe size
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", mp3_frame_fields("content").alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1]["is_mp3"] and out[1]["bitrate_kbps"] == 128
    assert out[1]["sample_rate"] == 44100
    assert out[1]["channel_mode"] == "joint_stereo"
    assert out[2]["has_id3v2"] and out[2]["id3_size"] == 64
    assert out[2]["bitrate_kbps"] == 320 and out[2]["sample_rate"] == 48000
    assert out[3]["mpeg_version"] == "2.5" and out[3]["padding"] == 1
    assert out[3]["sample_rate"] == 8000
    assert out[4]["is_mp3"] and out[4]["bitrate_kbps"] is None
    assert not out[5]["is_mp3"] and out[5]["mpeg_version"] is None
    assert not out[6]["is_mp3"]
    # footer flag (0x10): first frame starts 10+size+10 in, not 10+size
    assert out[7]["is_mp3"] and out[7]["has_id3v2"]
    assert out[7]["id3_size"] == 32 and out[7]["bitrate_kbps"] == 128
    # a set MSB in the syncsafe size means the tag cannot be trusted
    assert not out[8]["is_mp3"] and not out[8]["has_id3v2"]
    plan = (
        df.select(mp3_frame_fields("content"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_source_kl_divergence_handcomputed(spark):
    """KL against hand-computed distributions: a source identical in
    distribution to the corpus scores ~0; a disjoint-vocabulary source
    scores log2(N/n_s) exactly; outputs carry exact token/type counts;
    no Window, no Python in the plan."""
    import math

    from basis_devkit_spark.operators.text import source_kl_divergence

    # s1 and s2 share the identical distribution {a:2, b:2}; s3 is
    # disjoint {z:4}. For s3: p(z)=1, q(z)=4/12 -> KL = log2(3).
    rows = [
        ("s1", "a a b b"),
        ("s2", "a a b b"),
        ("s3", "z z z z"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r["source"]: r for r in source_kl_divergence(df).collect()}
    assert out["s3"]["n_tokens"] == 4 and out["s3"]["n_types"] == 1
    assert abs(out["s3"]["kl_bits"] - math.log2(3)) < 1e-5
    # s1: p(a)=.5 q(a)=4/12=1/3 -> KL = log2(3/2) = 0.584962...
    assert abs(out["s1"]["kl_bits"] - math.log2(1.5)) < 1e-5
    assert out["s1"]["kl_bits"] == out["s2"]["kl_bits"]
    plan = (
        source_kl_divergence(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "EvalPython" not in plan


def test_markov_attribution_handcomputed(spark):
    """Removal effect on a hand-built two-path journey set: the channel
    on the only converting path carries all the credit; a channel that
    only appears on null paths carries none; probabilities match the
    exact integer-scaled recursion."""
    from datetime import datetime

    from basis_devkit_spark.operators.events import markov_attribution

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = []
    # 2 users: A -> purchase ; B -> (end, null)
    rows += [(1, "u1", t(1), "A"), (2, "u1", t(2), "purchase")]
    rows += [(3, "u2", t(1), "B")]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, event_type string"
    )
    out = {r["channel"]: r for r in markov_attribution(df, iters=8).collect()}
    # chain: start->A 1/2, start->B 1/2, A->conv 1, B->null 1
    # p_full(start) = 0.5; removing A -> 0; removing B -> 0.5
    assert out["A"]["p_conv"] == 0.5
    assert out["A"]["p_conv_removed"] == 0.0
    assert out["A"]["removal_effect"] == 0.5 and out["A"]["credit"] == 1.0
    assert out["A"]["attributed_conversions"] == 1.0
    assert out["B"]["p_conv_removed"] == 0.5
    assert out["B"]["removal_effect"] == 0.0 and out["B"]["credit"] == 0.0
    # journeys SPLIT at conversion: a post-purchase event starts a new
    # journey from 'start', never a purchase->X transition
    rows2 = rows + [(4, "u1", t(3), "B")]
    df2 = spark.createDataFrame(
        rows2, "event_id long, user_id string, ts timestamp, event_type string"
    )
    out2 = {r["channel"]: r
            for r in markov_attribution(df2, iters=8).collect()}
    # start->A 1/3, start->B 2/3; only A converts
    assert out2["A"]["p_conv"] == round(1 / 3, 6)
    assert out2["A"]["credit"] == 1.0


def test_quality_ecdf_normalize_handcomputed(spark):
    """Hazen ECDF within groups: exact positions, tie-break on id,
    group isolation, and the calibration property — the same threshold
    keeps the same FRACTION in differently-scaled groups."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import quality_ecdf_normalize

    rows = [
        # group a: scores 10,20,30,40 -> pct .125,.375,.625,.875
        (1, "a", 10.0), (2, "a", 20.0), (3, "a", 30.0), (4, "a", 40.0),
        # group b: same ORDER but wildly different scale
        (5, "b", 0.01), (6, "b", 0.02),
        # tie on score -> id breaks it
        (7, "c", 5.0), (8, "c", 5.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality_score double")
    out = {r["doc_id"]: r for r in quality_ecdf_normalize(df).collect()}
    assert [out[i]["score_pct"] for i in (1, 2, 3, 4)] == [
        0.125, 0.375, 0.625, 0.875
    ]
    assert out[5]["score_pct"] == 0.25 and out[6]["score_pct"] == 0.75
    assert out[7]["rank_in_group"] == 1 and out[8]["rank_in_group"] == 2
    # calibration: thresholding pct >= 0.5 keeps half of EVERY group
    kept = quality_ecdf_normalize(df).filter(F.col("score_pct") > 0.5)
    per = {r["source"]: r["n"] for r in
           kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per == {"a": 2, "b": 1, "c": 1}


def test_quality_ecdf_normalize_null_and_edge_semantics(spark):
    """NULL scores are excluded from the ranking (NULL rank/n/pct pass
    through, never 'worst quality'); a NULL group is still a group
    (null-safe key joins); NaN sorts last WITHIN its group; and the
    bucketed two-phase rank equals a plain per-group row_number on a
    tie-heavy frame regardless of bucket_scale."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import quality_ecdf_normalize

    rows = [
        (1, "a", 10.0), (2, "a", None), (3, "a", 30.0),
        (4, "a", float("nan")),            # NaN ranks LAST in group a
        (5, None, 1.0), (6, None, 2.0),    # NULL group is a group
        (7, "b", None),                    # all-NULL group: no ranks
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, quality_score double"
    )
    out = {r["doc_id"]: r for r in quality_ecdf_normalize(df).collect()}
    assert len(out) == 7                   # nothing dropped
    # group a scored = {10.0, 30.0, NaN}: ranks 1,2,3 — NaN last
    assert out[1]["rank_in_group"] == 1 and out[3]["rank_in_group"] == 2
    assert out[4]["rank_in_group"] == 3 and out[4]["n_in_group"] == 3
    # NULL score: all three added columns NULL
    for i in (2, 7):
        assert out[i]["rank_in_group"] is None
        assert out[i]["n_in_group"] is None
        assert out[i]["score_pct"] is None
    # NULL group kept and ranked among itself
    assert out[5]["rank_in_group"] == 1 and out[6]["rank_in_group"] == 2
    assert out[5]["n_in_group"] == 2
    # tie-heavy frame: bucketed rank == plain row_number at any scale
    tie_rows = [(i, "g", float((i * 7) % 3)) for i in range(1, 61)]
    tdf = spark.createDataFrame(
        tie_rows, "doc_id long, source string, quality_score double"
    )
    expect = {
        r["doc_id"]: r["rk"]
        for r in tdf.selectExpr(
            "doc_id",
            "row_number() over (partition by source "
            "order by quality_score, doc_id) as rk",
        ).collect()
    }
    for scale in (1.0, 1000.0):
        got = {
            r["doc_id"]: r["rank_in_group"]
            for r in quality_ecdf_normalize(
                tdf, bucket_scale=scale
            ).collect()
        }
        assert got == expect, scale


def test_webp_dimensions_parse(spark):
    """All three WebP variants at 14-bit boundary sizes, RIFF-but-WAVE
    and unknown-chunk handling — no UDF in the plan."""
    import struct

    from basis_devkit_spark.operators.multimodal import webp_dimensions

    def riff(chunk, payload):
        body = chunk + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body

    rows = [
        (1, riff(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
                 + struct.pack("<HH", 640, 480) + b"\x00" * 10)),
        (2, riff(b"VP8L", b"\x2f"
                 + struct.pack("<I", (1023) | (16383 << 14))
                 + b"\x00" * 10)),
        (3, riff(b"VP8X", b"\x00\x00\x00\x00"
                 + struct.pack("<I", 16383)[:3]
                 + struct.pack("<I", 8999)[:3] + b"\x00" * 8)),
        (4, b"RIFF\x24\x00\x00\x00WAVE" + b"\x00" * 22),
        (5, riff(b"ICCP", b"\x00" * 12)),
        # lossy chunk with a CORRUPT start code -> dims must be NULL
        (6, riff(b"VP8 ", b"\x00\x00\x00\xff\x01\x2a"
                 + struct.pack("<HH", 640, 480) + b"\x00" * 10)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", webp_dimensions("content").alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1]["variant"] == "vp8" and (out[1]["width"], out[1]["height"]) == (640, 480)
    assert out[2]["variant"] == "vp8l" and (out[2]["width"], out[2]["height"]) == (1024, 16384)
    assert out[3]["variant"] == "vp8x" and (out[3]["width"], out[3]["height"]) == (16384, 9000)
    assert out[4]["is_webp"] is False and out[4]["variant"] is None
    assert out[5]["is_webp"] is True and out[5]["variant"] is None
    assert out[6]["variant"] == "vp8" and out[6]["width"] is None
    plan = (
        df.select(webp_dimensions("content"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_retention_decay_fit_handcomputed(spark):
    """A synthetic cohort with EXACT halving retention (16 -> 8 -> 4 ->
    2 users active in successive weeks) must fit slope = -1 log2/week,
    half-life = 1 week, r2 = 1; thin cohorts are excluded."""
    from datetime import datetime, timedelta

    from basis_devkit_spark.operators.events import retention_decay_fit

    rows = []
    eid = 0
    base = datetime(2024, 1, 1)  # a Monday: cohort == this date
    # 16 users join in week 0; user i stays active through week
    # floor(log2(16/i'))-ish: keep users 0..7 in week 1, 0..3 in week
    # 2, 0..1 in week 3 -> n_t = 16, 8, 4, 2
    for u in range(16):
        for wk, keep in ((0, 16), (1, 8), (2, 4), (3, 2)):
            if u < keep:
                eid += 1
                rows.append((eid, u, base + timedelta(days=7 * wk)))
    # plus one tiny 2-point cohort that must be EXCLUDED
    for u, wk in ((100, 0), (101, 0), (100, 1)):
        eid += 1
        rows.append((eid, u, base + timedelta(days=70 + 7 * wk)))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )
    out = retention_decay_fit(df, min_points=3).collect()
    assert len(out) == 1  # the thin cohort is excluded
    r = out[0]
    assert r["n_points"] == 3 and r["n0"] == 16
    assert r["decay_log2"] == -1.0
    assert r["half_life_periods"] == 1.0
    assert r["r2"] == 1.0


def test_cluster_top_terms_handcomputed(spark):
    """c-TF-IDF labeling: a term exclusive to one cluster outranks a
    corpus-wide term with higher count; shared terms score count*log2(
    (1+k)/(1+k)) = 0; ranks are deterministic under score ties."""
    from basis_devkit_spark.operators.clustering import cluster_top_terms

    assign = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1)], "doc_id long, cluster int"
    )
    docs = spark.createDataFrame(
        [
            (1, "law law law common"),
            (2, "law common"),
            (3, "cook common common"),
            (4, "cook cook common"),
        ],
        "doc_id long, text string",
    )
    out = cluster_top_terms(assign, docs, k_terms=2).collect()
    by = {(r["cluster"], r["term_rank"]): r for r in out}
    # cluster 0: 'law' x4 exclusive -> score 4*log2(3/2); 'common'
    # appears in both clusters -> log2(3/3) = 0
    assert by[(0, 1)]["term"] == "law"
    assert round(by[(0, 1)]["score"], 4) == round(4 * 0.584962500721156, 4)
    assert by[(0, 2)]["term"] == "common" and by[(0, 2)]["score"] == 0.0
    assert by[(1, 1)]["term"] == "cook"


def test_transition_entropy_handcomputed(spark):
    """Deterministic step scores 0 bits with top_share 1; a 50/50 state
    scores exactly 1 bit; modal ties break to the smallest next state."""
    from datetime import datetime

    from basis_devkit_spark.operators.events import transition_entropy

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = []
    eid = 0
    # user u1..u4: A -> B always (deterministic); B -> C or D 50/50
    for u, third in ((1, "C"), (2, "D"), (3, "C"), (4, "D")):
        for i, e in enumerate(("A", "B", third)):
            eid += 1
            rows.append((eid, u, t(i + 1), e))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = {r["state"]: r for r in transition_entropy(df).collect()}
    assert out["A"]["entropy_bits"] == 0.0
    assert out["A"]["top_next"] == "B" and out["A"]["top_share"] == 1.0
    assert out["B"]["entropy_bits"] == 1.0
    assert out["B"]["top_next"] == "C"  # 2-2 tie -> smallest state
    assert out["B"]["top_share"] == 0.5
    assert out["B"]["n_out"] == 4 and out["B"]["n_next_states"] == 2


def test_canonical_url_semantics(spark):
    """URL canonicalization: scheme/host case, userinfo, default vs
    non-default ports, tracking-param strip, param byte-sort,
    trailing slash/dot, fragments, junk -> NULL, custom tracking
    pattern, strip_www dial; pure projection."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.domains import canonical_url

    cases = [
        (1, "https://www.Example.COM:443/a/b/?b=2&utm_source=x&a=1#f",
         "https://example.com/a/b?a=1&b=2"),
        (2, "HTTP://u:p@Host.org:80/idx.html?gclid=1",
         "http://host.org/idx.html"),
        (3, "https://h.net:8443/p/", "https://h.net:8443/p"),
        (4, "https://h.net./", "https://h.net"),
        (5, "junk", None),
        (6, None, None),
        (7, "https://h.net/a//b///?z=1&y=2", "https://h.net/a//b?y=2&z=1"),
        (8, "ftp://h.net:21/f.txt", "ftp://h.net:21/f.txt"),
        (9, "https://h.net?fbclid=abc&q=1", "https://h.net?q=1"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    out = canonical_url(df, "url")
    got = {r.doc_id: r.canonical_url for r in out.collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)
    # strip_www=False keeps the prefix
    keep = canonical_url(df, "url", strip_www=False)
    assert {r.doc_id: r.canonical_url for r in keep.collect()}[1] == (
        "https://www.example.com/a/b?a=1&b=2"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan


def test_paragraph_dedup_semantics(spark):
    """Corpus-wide boilerplate paragraphs (>= min_docs distinct docs)
    vanish from every doc; unique paragraphs survive in original
    order; normalization is case/whitespace-insensitive; all-boiler
    docs come back as empty string; within-doc repeats do NOT count
    as cross-doc."""
    from basis_devkit_spark.operators.text import paragraph_dedup

    b = "Cookie notice."
    rows = [
        (1, b + "\n\nAlpha one.\n\nBeta two."),
        (2, "COOKIE   notice.\n\nGamma three."),   # normalized match
        (3, b),                                    # all boilerplate
        (4, "Solo para.\n\nSolo para."),           # within-doc repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           paragraph_dedup(df, "doc_id", "text", min_docs=2).collect()}
    assert out[1].text_clean == "Alpha one.\n\nBeta two."
    assert out[1].n_paragraphs == 3 and out[1].n_removed == 1
    assert out[2].text_clean == "Gamma three."
    assert out[3].text_clean == "" and out[3].n_removed == 1
    # same doc twice is NOT >= 2 distinct docs
    assert out[4].n_removed == 0
    assert out[4].text_clean == "Solo para.\n\nSolo para."


def test_encoding_signals_handcomputed(spark):
    """Replacement chars, C0 (minus tab/NL/CR), C1 band, mojibake
    digraphs, ratio + flag; clean text scores zero."""
    from basis_devkit_spark.operators.text import encoding_signals

    clean = "A perfectly normal sentence with tab\tand newline\n."
    moji = "cafÃ© and â€™quoteÂ "
    junk = "x�yzw"
    df = spark.createDataFrame(
        [(1, clean), (2, moji), (3, junk), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in encoding_signals(df, "text").collect()}
    assert out[1].n_replacement == 0 and out[1].n_c0_control == 0
    assert out[1].n_c1_control == 0 and out[1].n_mojibake_marks == 0
    assert out[1].is_suspect == 0
    # cafÃ© -> 1 digraph; â€™ -> 1; Â + nbsp... nbsp is A0 (not C1)
    assert out[2].n_mojibake_marks >= 2 and out[2].is_suspect == 1
    assert out[3].n_replacement == 1       # U+FFFD
    assert out[3].n_c0_control == 1        # BEL
    assert out[3].n_c1_control == 1        # U+0085 NEL
    assert out[3].is_suspect == 1
    for i in (4, 5):
        assert out[i].mojibake_ratio == 0.0 and out[i].is_suspect == 0


def test_dominant_script_handcomputed(spark):
    """Per-script counts, dominant script with alphabetical tie-break,
    digit-only -> 'other', fraction floor-scaling."""
    from basis_devkit_spark.operators.text import dominant_script

    ru = "Привет"          # 6 Cyrillic
    han = "你好"                                  # 2 Han
    kana = "こん"                                 # 2 Kana
    hangul = "가나"                               # 2 Hangul
    arabic = "نص"                               # 2 Arabic
    rows = [
        (1, "hello world"),            # latin
        (2, ru + " ok"),               # cyrillic 6 > latin 2
        (3, han + kana),               # han == kana == 2 -> 'han'
        (4, hangul + arabic),          # tie -> 'arabic' (alphabetical)
        (5, "123 456"),                # digits only -> 'other'
        (6, ""),                       # empty
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dominant_script(df, "text").collect()}
    assert out[1].script == "latin" and out[1].n_latin == 10
    assert out[2].script == "cyrillic" and out[2].n_cyrillic == 6
    assert out[3].script == "han" and out[3].n_kana == 2
    assert out[4].script == "arabic" and out[4].n_hangul == 2
    assert out[5].script == "other" and out[5].n_digit == 6
    assert out[5].script_frac == 0.0
    for i in (6, 7):
        assert out[i].script == "other" and out[i].n_chars_total == 0
    # fraction: 6 cyrillic / 9 chars
    assert abs(out[2].script_frac - 666667 / 1e6) < 1e-9


def test_periodicity_signals_handcomputed(spark):
    """Metronomic user flagged, human-bursty user not, exact integer
    variance path (n*ssq - s^2), short users NULL cv, single-event
    user NULL mean."""
    from datetime import datetime

    from basis_devkit_spark.operators.events import periodicity_signals

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    rows = (
        # bot: exactly every 5 s, 7 events
        [(i, "bot", t(5 * i)) for i in range(1, 8)]
        # human: irregular gaps 1,10,2,40,3,9
        + [(100 + i, "hum", t(s))
           for i, s in enumerate([0, 1, 11, 13, 53, 56])]
        + [(200, "solo", t(0))]
        + [(300, "pair", t(0)), (301, "pair", t(30))]
    )
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp"
    )
    out = {r.user_id: r for r in
           periodicity_signals(df, min_events=6, cv_threshold=0.1)
           .collect()}
    bot = out["bot"]
    assert bot.n_events == 7 and bot.n_gaps == 6
    assert bot.mean_gap_us == 5_000_000.0
    assert bot.std_gap_us == 0.0 and bot.cv_gap == 0.0
    assert bot.is_regular == 1
    hum = out["hum"]
    assert hum.is_regular == 0 and hum.cv_gap > 0.5
    # hand-check the exact variance: gaps in seconds 1,10,2,40,3
    import math
    gaps = [1e6, 10e6, 2e6, 40e6, 3e6]
    n = len(gaps)
    s1, s2 = sum(gaps), sum(g * g for g in gaps)
    std = math.sqrt((n * s2 - s1 * s1) / (n * (n - 1)))
    assert abs(hum.std_gap_us - std) < 1.0
    assert out["solo"].mean_gap_us is None
    assert out["solo"].n_events == 1 and out["solo"].is_regular == 0
    pair = out["pair"]
    assert pair.mean_gap_us == 30_000_000.0 and pair.std_gap_us is None
    assert pair.cv_gap is None and pair.is_regular == 0


def test_snapshot_novelty_handcomputed(spark):
    """Per-new-doc novelty against a previous snapshot: seen paragraphs
    (normalized match) score 0 novelty contribution, fully-novel docs
    1.0, mixed docs the exact fraction, no-paragraph docs NULL; old
    snapshot paragraphs never count against each other."""
    from basis_devkit_spark.operators.text import snapshot_novelty

    old = spark.createDataFrame(
        [(1, "Alpha one.\n\nBeta two."), (2, "Gamma three.")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "ALPHA   one.\n\nFresh stuff."),   # 1 seen / 2
            (11, "Entirely new.\n\nAlso new."),     # 0 seen / 2
            (12, "gamma three."),                   # 1 seen / 1
            (13, ""),                               # no paragraphs
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in snapshot_novelty(new, old).collect()}
    assert out[10].n_paragraphs == 2 and out[10].n_seen == 1
    assert out[10].novelty == 0.5
    assert out[11].novelty == 1.0 and out[11].n_seen == 0
    assert out[12].novelty == 0.0
    assert out[13].n_paragraphs == 0 and out[13].novelty is None


def test_group_split_leakage_safe_and_deterministic(spark):
    """All rows of a group share one split; assignment is stable
    across calls and row additions; weights validated; approximate
    proportions hold over many groups; custom weights and NULL group
    handled."""
    import pytest as _pt
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import group_split

    rows = [(i, f"g{i % 200}") for i in range(2000)] + [(9999, None)]
    df = spark.createDataFrame(rows, "doc_id long, g string")
    out = group_split(df, "g")
    # leakage-safety: one split per group
    per = out.groupBy("g").agg(F.count_distinct("split").alias("n"))
    assert per.filter(F.col("n") > 1).count() == 0
    # determinism + stability under row additions: group assignment of
    # the original groups is unchanged when new rows join them
    a = {r["g"]: r["split"] for r in
         out.select("g", "split").distinct().collect()}
    more = spark.createDataFrame(
        [(100000 + i, f"g{i % 200}") for i in range(500)],
        "doc_id long, g string",
    )
    b = {r["g"]: r["split"] for r in
         group_split(df.unionByName(more), "g")
         .select("g", "split").distinct().collect()}
    assert a == b
    # rough proportions over 200 groups (binomial, generous bounds)
    frac = sum(1 for v in a.values() if v == "train") / len(a)
    assert 0.65 < frac < 0.92
    # NULL group: deterministic single split, rows kept
    assert a[None] in ("train", "val", "test")
    # custom weights + validation
    two = group_split(df, "g", weights={"fit": 0.5, "holdout": 0.5})
    assert set(r["split"] for r in two.select("split").distinct()
               .collect()) <= {"fit", "holdout"}
    with _pt.raises(ValueError):
        group_split(df, "g", weights={"a": 0.5, "b": 0.4})
    # pure projection
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_ogg_opus_fields_parse(spark):
    """Hand-built Ogg pages: segment-table-length packet offset, OpusHead
    field extraction, Vorbis first packet (is_ogg without is_opus), bad
    page version, truncated packet — no UDF in the plan."""
    import struct

    from basis_devkit_spark.operators.multimodal import ogg_opus_fields

    def page(version=0, nsegs=1, packet=b""):
        return (
            b"OggS" + bytes([version, 0x02]) + b"\x00" * 8
            + b"\x01\x00\x00\x00" + b"\x00" * 8
            + bytes([nsegs]) + bytes([len(packet)] + [0] * (nsegs - 1))
            + packet
        )

    def opus(ch=2, skip=312, rate=48000, fam=0):
        return (
            b"OpusHead" + bytes([1, ch]) + struct.pack("<H", skip)
            + struct.pack("<I", rate) + struct.pack("<h", 0)
            + bytes([fam])
        )

    rows = [
        (1, page(packet=opus())),
        (2, page(nsegs=4, packet=opus(ch=1, skip=0, rate=8000))),
        (3, page(packet=b"\x01vorbis" + b"\x00" * 12)),
        (4, page(version=2, packet=opus())),
        (5, b"OggZ" + b"\x00" * 30),
        (6, page(packet=b"OpusHead\x01")),   # truncated OpusHead
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", ogg_opus_fields("content").alias("s")
        ).select("doc_id", "s.*").collect()
    }
    assert out[1].is_ogg and out[1].is_opus
    assert out[1].channels == 2 and out[1].pre_skip == 312
    assert out[1].input_sample_rate == 48000
    assert out[2].is_opus and out[2].channels == 1
    assert out[2].input_sample_rate == 8000   # 4-entry segment table
    assert out[3].is_ogg and not out[3].is_opus
    assert out[3].channels is None
    assert not out[4].is_ogg and not out[4].is_opus
    assert not out[5].is_ogg
    assert out[6].is_ogg and not out[6].is_opus  # too short to trust
    plan = (
        df.select(ogg_opus_fields("content"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan


def test_time_bucket_gapfill_null_group_series(spark):
    """A NULL group key is a real series (null-safe spine join): its
    observed buckets fill, its gaps LOCF — previously NULL-group
    aggregates silently vanished into permanently-empty slots."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import (
        time_bucket_gapfill,
    )

    t = lambda h: datetime(2024, 1, 1, h, 30)
    rows = [
        (1, "u1", t(0), 10.0), (2, "u1", t(2), 30.0),
        (3, None, t(0), 5.0), (4, None, t(2), 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, value double"
    )
    out = time_bucket_gapfill(df, "ts", "value", "user_id", "hour")
    nul = {r["bucket_ts"].hour: r for r in
           out.filter(F.col("user_id").isNull()).collect()}
    assert len(nul) == 3                      # dense spine for NULL too
    assert nul[0]["v"] == 5.0 and nul[2]["v"] == 7.0
    assert nul[1]["v"] is None and nul[1]["filled"] == 5.0  # LOCF


def test_sketch_dial_all_null_group_parity(spark):
    """A group whose values are ALL NULL must survive both methods with
    NULL bounds/statistics (exact parity): the sketch path has no
    histogram row for such a group, so its join-back must be LEFT."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.timeseries import (
        robust_outliers,
        winsorize,
    )

    rows = [("a", 1.0), ("a", 2.0), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    for m in ("exact", "sketch"):
        w = winsorize(df, "v", 0.0, 1.0, group_col="g", method=m)
        assert w.count() == 4, m
        bnull = w.filter(F.col("g") == "b").collect()
        assert all(r["clip_lo"] is None and r["clip_hi"] is None
                   for r in bnull), m
        r = robust_outliers(df, "v", group_col="g", method=m)
        assert r.count() == 4, m
        assert all(x["med"] is None and x["is_outlier"] is False
                   for x in r.filter(F.col("g") == "b").collect()), m
    # ungrouped sketch on an all-NULL column: one-row stats, rows kept
    alln = spark.createDataFrame([(None,), (None,)], "v double")
    assert winsorize(alln, "v", method="sketch").count() == 2
    assert robust_outliers(alln, "v", method="sketch").count() == 2


def test_cusum_changepoints_matches_naive_recursion(spark):
    """The closed form S_t = P_t - min(0, min prefix P) must equal the
    literal Page recursion max(0, S + d) on both sides, alarms must
    fire exactly on threshold crossings, NULL values must freeze the
    statistic (zero delta, NULL output, no alarm), and the plan must
    be windows over ONE partitioning with no Python."""
    from datetime import datetime

    from basis_devkit_spark.operators.timeseries import (
        cusum_changepoints,
    )

    t = lambda s: datetime(2024, 1, 1, 0, 0, s)
    vals = [10.0, 12.0, None, 30.0, 31.0, 29.5, 2.0, 1.0, 1.5, 11.0]
    rows = [(i + 1, "u1", t(i + 1), v) for i, v in enumerate(vals)] + [
        (100, "u2", t(1), 50.0)  # group isolation: fresh statistic
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id string, ts timestamp, value double"
    )
    target, slack, threshold = 10.0, 1.0, 15.0
    out = {
        r["event_id"]: r
        for r in cusum_changepoints(
            df, target=target, slack=slack, threshold=threshold
        ).collect()
    }

    # independent literal recursion in exact integer micro-units
    sc = 10**6
    mu, kk, hh = 10 * sc, 1 * sc, 15 * sc
    sp = sn = 0
    for i, v in enumerate(vals):
        eid = i + 1
        if v is None:
            assert out[eid]["cusum_pos"] is None
            assert out[eid]["cusum_neg"] is None
            assert out[eid]["is_alarm"] == 0
            continue
        vi = int(v * sc)
        sp = max(0, sp + (vi - mu - kk))
        sn = max(0, sn + (mu - vi - kk))
        assert out[eid]["cusum_pos"] == sp / sc, (eid, sp)
        assert out[eid]["cusum_neg"] == sn / sc, (eid, sn)
        assert out[eid]["is_alarm"] == int(sp > hh or sn > hh)
    # the upward run 30/31/29.5 must alarm, the crash to 2.0 resets
    # the positive side and builds the negative side past threshold
    assert out[5]["is_alarm"] == 1 and out[5]["cusum_pos"] > 15.0
    assert out[9]["is_alarm"] == 1 and out[9]["cusum_neg"] > 15.0
    # u2's single on-target row: both sides clip to 0 (max with 0)
    assert out[100]["cusum_pos"] == 39.0  # 50 - 10 - 1
    assert out[100]["cusum_neg"] == 0.0

    plan = (
        cusum_changepoints(df, target=target, slack=slack)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    # one per-series partitioning: a single shuffle feeds both window
    # passes (sum, then min-of-sum reuse the same distribution)
    import re as _re

    assert len(_re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_source_overlap_matrix_semantics_and_merge_property(spark):
    """Identical shingle sets estimate 1.0, disjoint corpora (almost
    surely) 0.0, the per-source sketch equals the sketch of the union
    (mergeability), NULL text / NULL source contribute nothing, and
    the plan stays JVM-side with the bounded pair join broadcast."""
    from basis_devkit_spark.operators.dedup import (
        minhash_signatures,
        source_overlap_matrix,
    )

    rep = "the quick brown fox jumps over the lazy dog " * 3
    other = "completely different corpus text about spark shuffles " * 3
    rows = [
        (1, "a", rep),
        (2, "a", other),
        (3, "b", rep),          # b = union of a's docs, split differently
        (4, "b", other),
        (5, "c", rep),          # c shares doc 1's set only
        (6, "d", None),         # NULL text: no shingles
        (7, None, rep),         # NULL source: excluded
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap_matrix(df).collect()
    }
    # a and b hold the SAME union shingle set -> every position agrees
    assert out[("a", "b")]["n_eq"] == 64
    assert out[("a", "b")]["est_jaccard"] == 1.0
    # d has no shingled docs at all -> no row with d
    assert not any("d" in k for k in out)
    assert len(out) == 3  # (a,b), (a,c), (b,c)
    # true Jaccard(a, c) = |rep| / |rep U other|; the estimate must be
    # strictly between the degenerate ends
    assert 0 < out[("a", "c")]["n_eq"] < 64
    # same sets, same sketch, same estimate
    assert out[("a", "c")]["n_eq"] == out[("b", "c")]["n_eq"]

    # mergeability: element-wise min of per-doc signatures == the
    # signature minhash_signatures computes for the concatenated corpus
    per_doc = minhash_signatures(
        df.filter("source = 'a'"), "doc_id", "text"
    ).collect()
    merged = [min(x) for x in zip(*(r["sig"] for r in per_doc))]
    one_doc = minhash_signatures(
        spark.createDataFrame(
            [(1, rep), (1, other)], "doc_id long, text string"
        ),
        "doc_id",
        "text",
    ).collect()
    union_sig = [min(x) for x in zip(*(r["sig"] for r in one_doc))]
    assert merged == union_sig

    plan = (
        source_overlap_matrix(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan


def test_hard_negative_mine_semantics(spark):
    """Mined negatives must all carry a different label than the query,
    NULL-labeled vectors are excluded on both sides, min_score trims
    easy negatives, ranking is the bounded two-phase merge (no Window),
    and the nearest same-label vector never appears."""
    from basis_devkit_spark.operators.similarity import hard_negative_mine

    # unit-ish vectors on a plane: 0/1 share label A and are nearly
    # identical; 2 (label B) is close to 0; 3 (label B) is far; 4 has a
    # NULL label and must never appear
    rows = [
        (0, [1.0, 0.0], "A"),
        (1, [0.99, 0.14], "A"),
        (2, [0.9, 0.43], "B"),
        (3, [-1.0, 0.0], "B"),
        (4, [1.0, 0.01], None),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    q = df.filter("vec_id = 0")
    out = hard_negative_mine(q, df, k=3, score_round=4).collect()
    assert all(r["query_label"] != r["match_label"] for r in out)
    assert all(r["match_id"] != 4 for r in out)  # NULL label excluded
    ids = [r["match_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ids == [2, 3]  # same-label 1 skipped; 2 is the HARD negative
    # min_score keeps only the hard one
    hard = hard_negative_mine(q, df, k=3, score_round=4, min_score=0.5)
    assert [r["match_id"] for r in hard.collect()] == [2]

    plan = (
        hard_negative_mine(q, df, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan  # two-phase top-k, never a rank window
    assert "EvalPython" not in plan


def test_cuped_readout_handcomputed(spark):
    """CUPED against an independent numpy computation of pooled theta,
    adjusted means, and adjusted variance; NULL-covariate units are
    excluded; a zero-variance covariate degrades to theta=0; the plan
    is two hash aggs + a broadcast, no windows."""
    import numpy as np

    from basis_devkit_spark.operators.events import cuped_readout

    rows = [
        ("a", 1, 3), ("a", 2, 5), ("a", 4, 9), ("a", 3, 6),
        ("b", 2, 6), ("b", 5, 12), ("b", 1, 2), ("b", 4, 10),
        ("b", None, 99),  # excluded: no pre-period
    ]
    df = spark.createDataFrame(rows, "arm string, x_pre long, y_post long")
    out = {r["arm"]: r for r in cuped_readout(df).collect()}

    x = np.array([1, 2, 4, 3, 2, 5, 1, 4], dtype=float)
    y = np.array([3, 5, 9, 6, 6, 12, 2, 10], dtype=float)
    n = len(x)
    theta = ((n * (x * y).sum() - x.sum() * y.sum())
             / (n * (x * x).sum() - x.sum() ** 2))
    fs = lambda v: np.floor(v * 1e6 + 0.5) / 1e6
    for arm, idx in (("a", slice(0, 4)), ("b", slice(4, 8))):
        xa, ya = x[idx], y[idx]
        na = len(xa)
        assert out[arm]["n_units"] == na
        assert out[arm]["theta"] == fs(theta)
        assert out[arm]["mean_y"] == fs(ya.mean())
        adj = ya.mean() - theta * (xa.mean() - x.mean())
        assert out[arm]["mean_y_cuped"] == fs(adj)
        var_y = ya.var(ddof=1)
        cov = np.cov(xa, ya, ddof=1)[0, 1]
        var_adj = var_y - 2 * theta * cov + theta**2 * xa.var(ddof=1)
        assert abs(out[arm]["var_y"] - fs(var_y)) < 2e-6
        assert abs(out[arm]["var_y_cuped"] - fs(var_adj)) < 2e-6
        assert out[arm]["var_reduction"] > 0.5  # strongly correlated toy
    # zero-variance covariate: theta 0, adjusted == raw
    flat = spark.createDataFrame(
        [("a", 7, 1), ("a", 7, 3), ("b", 7, 5)],
        "arm string, x_pre long, y_post long",
    )
    fo = {r["arm"]: r for r in cuped_readout(flat).collect()}
    assert fo["a"]["theta"] == 0.0
    assert fo["a"]["mean_y_cuped"] == fo["a"]["mean_y"] == 2.0
    assert fo["b"]["var_y"] is None  # single unit: no variance

    plan = (
        cuped_readout(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "EvalPython" not in plan


def test_fim_split_reconstruction_and_determinism(spark):
    """concat(prefix, middle, suffix) reconstructs every document
    (applied or not), the gate hits ~rate, assignments are stable
    across calls, rate=0/1 are exact, NULL text passes through, and
    the plan is a pure projection (no shuffle, no Python)."""
    from basis_devkit_spark.operators.text import fim_split

    rows = [(i, f"document body number {i} " * (i % 7 + 1)) for i in range(200)]
    rows.append((999, None))
    rows.append((998, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = fim_split(df, rate=0.5).collect()
    by_id = {r["doc_id"]: r for r in out}
    for r in out:
        if r["text"] is None:
            assert r["fim_applied"] == 0
            assert r["prefix"] is None and r["middle"] is None
            continue
        assert (r["prefix"] + r["middle"] + r["suffix"]) == r["text"]
    assert by_id[998]["fim_applied"] == 0  # empty text never splits
    n_applied = sum(r["fim_applied"] for r in out)
    assert 60 <= n_applied <= 140  # ~rate of 200, md5-uniform
    # some applied docs have all three parts non-empty
    assert any(
        r["fim_applied"] and r["prefix"] and r["middle"] and r["suffix"]
        for r in out
    )
    # determinism: identical assignment on re-run
    again = {r["doc_id"]: r for r in fim_split(df, rate=0.5).collect()}
    for i, r in by_id.items():
        assert again[i]["fim_applied"] == r["fim_applied"]
        assert again[i]["middle"] == r["middle"]
    assert all(
        r["fim_applied"] == 0 for r in fim_split(df, rate=0.0).collect()
    )
    one = fim_split(df, rate=1.0).collect()
    assert all(r["fim_applied"] == 1 for r in one if r["text"])

    plan = (
        fim_split(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan
    import pytest as _pt
    with _pt.raises(ValueError):
        fim_split(df, rate=1.5)


def test_readability_scores_handcomputed(spark):
    """Counts and both formulas against hand arithmetic, the
    one-sentence floor, NULL/wordless docs, and the pure-projection
    plan."""
    from basis_devkit_spark.operators.text import readability_scores

    rows = [
        (1, "The cat sat. The dog ran!"),     # 6 words, 2 sents
        (2, "no terminal punctuation here"),  # floor: 1 sentence
        (3, "1234 5678 ..."),                 # wordless: NULL scores
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability_scores(df).collect()}
    r1 = out[1]
    assert r1["n_words"] == 6 and r1["n_sentences"] == 2
    # syllable proxy: vowel GROUPS in lowercase text
    # "the cat sat. the dog ran!" -> e,a,a,e,o,a = 6
    assert r1["n_syllables"] == 6
    import math
    wps, spw = 6 / 2, 6 / 6
    ease = 206.835 - 1.015 * wps - 84.6 * spw
    grade = 0.39 * wps + 11.8 * spw - 15.59
    fs = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    assert r1["flesch_ease"] == fs(ease)
    assert r1["fk_grade"] == fs(grade)
    assert out[2]["n_sentences"] == 1  # floored
    assert out[3]["flesch_ease"] is None and out[3]["n_words"] == 0
    assert out[4]["n_words"] is None and out[4]["fk_grade"] is None

    plan = (
        readability_scores(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_textrank_keywords_handcomputed(spark):
    """A planted hub word (adjacent to everything) must outrank
    satellites, short tokens and self-loops are excluded, ties break
    alphabetically, and the integer ranks match the d28 recurrence's
    symmetry (satellite nodes with identical neighborhoods tie
    exactly)."""
    from basis_devkit_spark.operators.graphrank import textrank_keywords

    rows = [
        ("spark shuffles spark joins spark windows",),
        ("spark aggregates at scale scale",),  # self-loop 'scale scale' dropped
        ("of in at",),  # all short tokens: no edges
        (None,),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = textrank_keywords(df, k=10).collect()
    ranks = {r["token"]: r["rank_scaled"] for r in out}
    pos = {r["token"]: r["rank_pos"] for r in out}
    assert pos["spark"] == 1  # the hub
    # satellites with one identical (spark)-edge each: exact integer tie
    assert ranks["joins"] == ranks["shuffles"] == ranks["windows"]
    # ties order alphabetically
    sat_pos = sorted(
        (pos[t], t) for t in ("joins", "shuffles", "windows")
    )
    assert [t for _, t in sat_pos] == sorted(
        ("joins", "shuffles", "windows")
    )
    assert "of" not in ranks and "at" not in ranks and "in" not in ranks
    # 'scale scale' contributed no self-loop; 'scale' still links to
    # 'at'... which is short — so scale's only edge is to 'aggregates'
    assert "scale" in ranks


def test_fuzzy_decontaminate_semantics(spark):
    """A small-edit leak is confirmed, a heavy rewrite sharing grams is
    rejected by the edit gate, pairs below the shared-gram floor never
    reach levenshtein, short sentences are ignored, and the benchmark
    side is broadcast."""
    from basis_devkit_spark.operators.dedup import fuzzy_decontaminate

    base = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            (1, base + ". unrelated filler sentence about spark plans."),
            (2, "totally different content with no benchmark overlap."),
            (3, "short. tiny."),  # all sentences under the length floor
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            # one edit ('quick' -> 'quikc'): a leak
            (100, "the quikc brown fox jumps over the lazy dog tonight."),
            # shares grams ('the lazy dog') but mostly rewritten: rejected
            (101, "yesterday an entirely new story was told about how "
                  "someone walked past the lazy dog tonight after dark "
                  "and nothing else here matches the original wording "
                  "at all in any way."),
        ],
        "doc_id long, text string",
    )
    out = fuzzy_decontaminate(
        corpus, bench, min_shared=2, max_rel_edit=0.2,
        min_sentence_chars=20,
    )
    rows = {(r["doc_id"], r["bench_id"]): r for r in out.collect()}
    assert (1, 100) in rows
    assert rows[(1, 100)]["min_edit"] == 2  # quick->quikc transposition
    assert (1, 101) not in rows  # edit gate rejects the rewrite
    assert not any(d == 2 for d, _ in rows)  # no shared grams
    assert not any(d == 3 for d, _ in rows)  # under the sentence floor

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # benchmark grams broadcast
    assert "EvalPython" not in plan


def test_source_minhash_sketch_least_merge(spark):
    """Partial sketches over disjoint corpus slices, least-merged per
    (source, pos), equal the one-shot sketch of the full corpus — the
    c36 streaming merge, checked directly."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.dedup import source_minhash_sketch

    rows = [
        (i, f"s{i % 3}", f"text body {i} about topic {i % 5} " * 4)
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    full = {
        (r["source"], r["pos"]): r["min_val"]
        for r in source_minhash_sketch(df).collect()
    }
    a = source_minhash_sketch(df.filter("doc_id % 2 = 0"))
    b = source_minhash_sketch(df.filter("doc_id % 2 = 1"))
    merged = (
        a.select("source", "pos", F.col("min_val").alias("__a"))
        .join(
            b.select("source", "pos", F.col("min_val").alias("__b")),
            ["source", "pos"],
            "full",
        )
        .select(
            "source", "pos",
            F.least(
                F.coalesce("__a", "__b"), F.coalesce("__b", "__a")
            ).alias("min_val"),
        )
    )
    got = {
        (r["source"], r["pos"]): r["min_val"] for r in merged.collect()
    }
    assert got == full


def test_kn_trigram_lm_score_matches_reference_model(spark):
    """The distributed KN pipeline must match an independent dict-based
    interpolated-KN implementation trigram-for-trigram (including
    context fallthrough and the OOV floor); short docs are excluded;
    seen text outscores garbage."""
    import math

    from basis_devkit_spark.operators.text import kn_trigram_lm_score

    train_texts = [
        "the cat sat on the mat",
        "the cat ran to the mat",
        "a dog sat on a log",
    ]
    score_texts = [
        (1, "the cat sat on the mat"),     # in-distribution
        (2, "zz qq ww"),                   # all OOV: every p at the floor
        (3, "the dog sat on the log"),     # mixed contexts
        (4, "too short"),                  # < 3 tokens: excluded
    ]
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(train_texts)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(score_texts, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in kn_trigram_lm_score(train, score).collect()
    }

    # independent reference implementation
    D = 0.75
    tri: dict = {}
    for t in train_texts:
        ws = t.lower().split(" ")
        for i in range(len(ws) - 2):
            key = (ws[i], ws[i + 1], ws[i + 2])
            tri[key] = tri.get(key, 0) + 1
    c2, n3f, mid = {}, {}, {}
    for (w1, w2, w3), c in tri.items():
        c2[(w1, w2)] = c2.get((w1, w2), 0) + c
        n3f[(w1, w2)] = n3f.get((w1, w2), 0) + 1
        mid[(w2, w3)] = mid.get((w2, w3), 0) + 1
    nmc, nmf, nct = {}, {}, {}
    for (w2, w3), n in mid.items():
        nmc[w2] = nmc.get(w2, 0) + n
        nmf[w2] = nmf.get(w2, 0) + 1
        nct[w3] = nct.get(w3, 0) + 1
    bt = len(mid)

    def p_kn(w1, w2, w3):
        pcont = nct.get(w3, 0) / bt
        m = nmc.get(w2, 0)
        if m > 0:
            pkn2 = (
                max(mid.get((w2, w3), 0) - D, 0.0) / m
                + ((D * nmf.get(w2, 0)) / m) * pcont
            )
        else:
            pkn2 = pcont
        c = c2.get((w1, w2), 0)
        if c > 0:
            pkn3 = (
                max(tri.get((w1, w2, w3), 0) - D, 0.0) / c
                + ((D * n3f.get((w1, w2), 0)) / c) * pkn2
            )
        else:
            pkn3 = pkn2
        return max(pkn3, 1e-10)

    for doc_id, text in score_texts:
        ws = text.lower().split(" ")
        if len(ws) < 3:
            assert doc_id not in out
            continue
        lps = [
            math.floor(
                math.log(p_kn(ws[i], ws[i + 1], ws[i + 2])) * 1e9
            )
            for i in range(len(ws) - 2)
        ]
        assert out[doc_id]["n_trigrams"] == len(lps)
        expect = round(sum(lps) / len(lps) / 1e9, 6)
        assert out[doc_id]["lm_score"] == expect, (doc_id, expect)
    # ordering sanity: in-distribution >> OOV garbage
    assert out[1]["lm_score"] > out[3]["lm_score"] > out[2]["lm_score"]
    # the all-OOV doc sits exactly at the floor
    assert out[2]["lm_score"] == round(math.log(1e-10), 6)


def test_poisson_bootstrap_ci_matches_reference_model(spark):
    """CI endpoints must equal an independent Python implementation of
    the md5-keyed Poisson draw + exact-rank percentile, the interval
    must bracket the point estimate, NULL metrics are excluded, and
    B < 2 raises."""
    import hashlib
    import math

    from basis_devkit_spark.operators.events import (
        _POISSON1_CDF_2_32,
        poisson_bootstrap_ci,
    )

    rows = [("a", i, float(10 + (i * 7) % 23)) for i in range(40)] + [
        ("b", 100 + i, float(50 + (i * 13) % 11)) for i in range(25)
    ] + [("a", 999, None)]
    df = spark.createDataFrame(rows, "arm string, user_id long, y double")
    B = 64
    out = {
        r["arm"]: r
        for r in poisson_bootstrap_ci(
            df, "arm", "y", "user_id", replicates=B
        ).collect()
    }

    def draw(b, u):
        h = hashlib.md5(f"boot:{b}:{u}".encode()).hexdigest()[:8]
        bucket = int(h, 16)
        return sum(1 for t in _POISSON1_CDF_2_32 if bucket >= t)

    fs = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    for arm in ("a", "b"):
        units = [
            (u, int(y)) for a, u, y in rows if a == arm and y is not None
        ]
        means = []
        for b in range(B):
            w = wy = 0
            for u, y in units:
                k = draw(b, u)
                w += k
                wy += k * y
            if w > 0:
                means.append((wy / w, b))
        means.sort()
        nb = len(means)
        k_lo = max(1, math.floor(nb * 0.025))
        k_hi = min(nb, math.ceil(nb * 0.975))
        assert out[arm]["ci_lo"] == fs(means[k_lo - 1][0]), arm
        assert out[arm]["ci_hi"] == fs(means[k_hi - 1][0]), arm
        point = sum(y for _, y in units) / len(units)
        assert out[arm]["mean_y"] == fs(point)
        assert out[arm]["ci_lo"] <= out[arm]["mean_y"] <= out[arm]["ci_hi"]
    assert out["a"]["n_units"] == 40  # the NULL-metric unit excluded

    import pytest as _pt
    with _pt.raises(ValueError):
        poisson_bootstrap_ci(df, replicates=1)


def test_quality_ecdf_inf_nan_scores(spark):
    """ADVICE r13: the bucket key's double→long conversion happens
    INSIDE floor (JVM primitive narrowing — +inf → Long.MAX, -inf →
    Long.MIN, NaN → 0 — never the session's ANSI Cast, which would
    runtime-error on non-finite doubles). Pin the full non-finite
    ordering so a refactor that reintroduces a true Cast, or breaks
    the NaN→max-bucket remap, fails loudly: -inf first, finite by
    value, +inf next-to-last, NaN last."""
    from basis_devkit_spark.operators.text import quality_ecdf_normalize

    rows = [
        (1, "a", float("-inf")),
        (2, "a", 10.0),
        (3, "a", 20.0),
        (4, "a", float("inf")),
        (5, "a", float("nan")),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, quality_score double"
    )
    out = {r["doc_id"]: r for r in quality_ecdf_normalize(df).collect()}
    assert [out[i]["rank_in_group"] for i in (1, 2, 3, 4, 5)] == [
        1, 2, 3, 4, 5
    ]
    assert all(out[i]["n_in_group"] == 5 for i in (1, 2, 3, 4, 5))
    # Hazen positions (rank - 0.5) / 5
    assert out[1]["score_pct"] == 0.1 and out[5]["score_pct"] == 0.9


def test_registrable_domain_full_psl_snapshot_default(spark):
    """VERDICT r13 task #3: the bundled full-PSL snapshot is the
    DEFAULT rule source. Covers rules the curated 409-rule literal set
    never had: a private-section shared host (sblo.jp), a 4-label
    private literal (s3.isk01.sakurastorage.jp), a deep ccTLD registry
    (kawasaki.miyagi.jp), and the real file's wildcard+exception
    interplay (*.kawasaki.jp with !city.kawasaki.jp)."""
    from basis_devkit_spark.operators.domains import (
        PSL_RULES,
        load_psl_snapshot,
        registrable_domain,
    )

    rules = load_psl_snapshot()
    assert len(rules) > 9000, len(rules)
    # the cases below are NOT covered by the curated fallback set
    assert "sblo.jp" not in PSL_RULES
    assert "s3.isk01.sakurastorage.jp" not in PSL_RULES
    assert {"*.kawasaki.jp", "!city.kawasaki.jp"} <= set(rules)
    icann_only = load_psl_snapshot(include_private=False)
    assert "sblo.jp" not in icann_only and "*.kawasaki.jp" in icann_only

    cases = [
        # private-section suffix: sblo.jp is the eTLD
        (1, "https://a.blog.sblo.jp/post", "blog.sblo.jp"),
        # 4-label private literal suffix
        (2, "https://b.s3.isk01.sakurastorage.jp/k",
         "b.s3.isk01.sakurastorage.jp"),
        # 3-label ICANN literal (kawasaki.miyagi.jp is a registry
        # suffix, distinct from the kawasaki.jp wildcard)
        (3, "https://shop.kawasaki.miyagi.jp/", "shop.kawasaki.miyagi.jp"),
        # *.kawasaki.jp: any label under kawasaki.jp is a suffix
        (4, "https://x.ward.kawasaki.jp/", "x.ward.kawasaki.jp"),
        # !city.kawasaki.jp prevails over the wildcard: the exception
        # itself is the registrable domain
        (5, "https://sub.city.kawasaki.jp/", "city.kawasaki.jp"),
        (6, "https://city.kawasaki.jp/", "city.kawasaki.jp"),
        # plain .jp stays the default 2-label path
        (7, "https://corp.example.jp/", "example.jp"),
        # host IS a wildcard-generated suffix (*.kawasaki.jp makes
        # foo.kawasaki.jp itself a public suffix): the stale shallower
        # candidate (kawasaki.jp completed the default rule mid-fold)
        # must be invalidated — the host itself comes back
        (8, "https://foo.kawasaki.jp/", "foo.kawasaki.jp"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "doc_id long, url string"
    )
    out = registrable_domain(df, "url")
    got = {r.doc_id: r.domain for r in out.collect()}
    for i, _, dom in cases:
        assert got[i] == dom, (i, got[i], dom)
    # still a pure projection (no shuffle/join/Python). The matcher's
    # higher-order functions are CodegenFallback by design — the
    # alternative per-depth CASE chain blew janino's 64 KB method
    # limit at full-snapshot depths, which is a far worse fallback
    # (megabyte compile attempt per stage, THEN interpretation).
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "EvalPython" not in plan


def test_poisson_bootstrap_ratio_ci_matches_reference_model(spark):
    """Ratio-metric bootstrap (den_col, VERDICT r13 task #7): the
    replicate statistic must re-weight each unit's (num, den) PAIR
    with ONE Poisson weight — verified against an independent Python
    model — the point estimate is sum(num)/sum(den), replicates with
    zero weighted denominator drop, the output column is `ratio`, and
    NULL on EITHER side excludes the unit."""
    import hashlib
    import math

    from basis_devkit_spark.operators.events import (
        _POISSON1_CDF_2_32,
        poisson_bootstrap_ci,
    )

    rows = (
        [("a", i, (17 + (i * 5) % 31), (1 + i % 4)) for i in range(35)]
        + [("b", 200 + i, (3 + (i * 11) % 7), (2 + i % 3)) for i in range(20)]
        + [("a", 998, None, 3), ("a", 997, 5, None)]
    )
    df = spark.createDataFrame(
        rows, "arm string, user_id long, num long, den long"
    )
    B = 64
    out = {
        r["arm"]: r
        for r in poisson_bootstrap_ci(
            df, "arm", "num", "user_id", replicates=B, den_col="den"
        ).collect()
    }
    assert "ratio" in out["a"].asDict() and "mean_y" not in out["a"].asDict()

    def draw(b, u):
        h = hashlib.md5(f"boot:{b}:{u}".encode()).hexdigest()[:8]
        bucket = int(h, 16)
        return sum(1 for t in _POISSON1_CDF_2_32 if bucket >= t)

    fs = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
    for arm in ("a", "b"):
        units = [
            (u, n, d)
            for a, u, n, d in rows
            if a == arm and n is not None and d is not None
        ]
        ratios = []
        for b in range(B):
            w = wy = 0
            for u, n, d in units:
                k = draw(b, u)
                w += k * d
                wy += k * n
            if w > 0:
                ratios.append((wy / w, b))
        ratios.sort()
        nb = len(ratios)
        k_lo = max(1, math.floor(nb * 0.025))
        k_hi = min(nb, math.ceil(nb * 0.975))
        assert out[arm]["ci_lo"] == fs(ratios[k_lo - 1][0]), arm
        assert out[arm]["ci_hi"] == fs(ratios[k_hi - 1][0]), arm
        point = sum(n for _, n, _ in units) / sum(d for _, _, d in units)
        assert out[arm]["ratio"] == fs(point)
    assert out["a"]["n_units"] == 35  # both NULL-sided units excluded


def test_kn_trigram_counts_sum_merge(spark):
    """C37 invariant: trigram-type counts SUM-merged across disjoint
    document slices equal the one-shot counts on the union, and
    scoring from merged counts is row-identical to the one-shot
    kn_trigram_lm_score — tri is the KN fit's only state; every
    derived table recomputes from it."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.text import (
        kn_trigram_counts,
        kn_trigram_lm_score,
        kn_trigram_lm_score_from_counts,
    )

    rows = [
        (i, f"w{i % 3} the quick w{i % 5} fox jumps over the lazy dog "
            f"w{i % 7} the quick end")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ca = kn_trigram_counts(a)
    cb = kn_trigram_counts(b).select(
        "w1", "w2", "w3", F.col("c3").alias("__p")
    )
    merged = ca.join(cb, ["w1", "w2", "w3"], "full").select(
        "w1", "w2", "w3",
        (
            F.coalesce(F.col("c3"), F.lit(0))
            + F.coalesce(F.col("__p"), F.lit(0))
        ).cast("long").alias("c3"),
    )
    one_shot = kn_trigram_counts(docs)
    key = lambda r: (r["w1"], r["w2"], r["w3"])
    assert {key(r): r["c3"] for r in merged.collect()} == {
        key(r): r["c3"] for r in one_shot.collect()
    }
    got = {
        r["doc_id"]: (r["n_trigrams"], r["lm_score"])
        for r in kn_trigram_lm_score_from_counts(merged, docs).collect()
    }
    want = {
        r["doc_id"]: (r["n_trigrams"], r["lm_score"])
        for r in kn_trigram_lm_score(docs, docs).collect()
    }
    assert got == want


def test_unigram_lm_fit_and_apply(spark):
    """D89 semantics: hard-EM fit keeps every single char, counts are
    exact integer word-weight sums, Viterbi prefers higher-prob
    segmentations with the longer-piece tie-break, UNSEEN words
    segment through the piece table (not a char fallback), long words
    bypass the DP, and the oov_rate / fertility reports run unchanged
    over the fitted artifacts."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import oov_rate
    from basis_devkit_spark.operators.unigram import (
        UNK_LP,
        unigram_lm_apply_indexed,
        unigram_lm_fit,
        unigram_segment_words,
    )

    rows = [
        (i, "s", "lowlow lowest lowest slow slowly low") for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    pieces = unigram_lm_fit(
        docs, vocab_size=40, seed_size=120, max_piece_len=4, em_iters=2
    )
    pm = {r["piece"]: (r["cnt"], r["lp"]) for r in pieces.collect()}
    # every character of the corpus survives pruning
    for ch in set("lowestsly"):
        assert ch in pm, ch
    # "low" is the dominant substring; it must be a kept piece with a
    # count that is an exact multiple of the word weights (8 docs × 6
    # occurrences of 'low'-containing words... counted via Viterbi)
    assert "low" in pm and pm["low"][0] > 0
    # kept-but-unused pieces carry the UNK floor
    assert all(lp == UNK_LP for p, (c, lp) in pm.items() if c == 0)

    out = unigram_lm_apply_indexed(docs, pieces)
    toks = out.filter(F.col("doc_id") == 0).collect()[0]["um_tokens"]
    assert toks[:1] in (["lowl"], ["low"])  # segmentation is piece-based
    assert "".join(toks) == "lowlowlowestlowestslowslowlylow"

    # unseen word: segmented via the piece table, not char-exploded
    unseen = spark.createDataFrame([("lowlyest",)], "word string")
    seg = unigram_segment_words(unseen, pieces).collect()[0]["parts"]
    assert "".join(seg) == "lowlyest" and len(seg) < len("lowlyest")

    # long words bypass the DP with a char split
    longw = spark.createDataFrame([("x" * 80,)], "word string")
    lseg = unigram_segment_words(longw, pieces).collect()[0]["parts"]
    assert lseg == ["x"] * 80

    # reports run unchanged over the fitted artifacts
    ov = oov_rate(
        docs, pieces.select(F.col("piece").alias("word")), group_col="source"
    ).collect()[0]
    assert ov["n_tokens"] == 8 * 6
    fert = out.select(
        (F.size("um_tokens").cast("double") / F.lit(6.0)).alias("f")
    ).agg(F.min("f"), F.max("f")).collect()[0]
    assert fert[0] == fert[1] and fert[0] >= 1.0


def test_unigram_words_sum_merge_refit(spark):
    """C38 invariant: word weights SUM-merged across disjoint slices
    equal the one-shot weights, and refitting from merged weights is
    row-identical to the one-shot unigram fit — word weights are the
    fit's only corpus-derived input."""
    from pyspark.sql import functions as F

    from basis_devkit_spark.operators.bpe import _word_weights
    from basis_devkit_spark.operators.unigram import unigram_lm_fit

    rows = [
        (i, f"low lower lowest slow w{i % 4} the end") for i in range(24)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = _word_weights(docs.filter(F.col("doc_id") % 2 == 0), "text")
    b = _word_weights(docs.filter(F.col("doc_id") % 2 == 1), "text").select(
        "word", F.col("weight").alias("__p")
    )
    merged = a.join(b, "word", "full").select(
        "word",
        (
            F.coalesce(F.col("weight"), F.lit(0))
            + F.coalesce(F.col("__p"), F.lit(0))
        ).cast("long").alias("weight"),
    )
    one_shot = _word_weights(docs, "text")
    assert {r["word"]: r["weight"] for r in merged.collect()} == {
        r["word"]: r["weight"] for r in one_shot.collect()
    }
    kw = dict(vocab_size=40, seed_size=100, max_piece_len=3, em_iters=2)
    got = {
        r["piece"]: (r["cnt"], r["lp"])
        for r in unigram_lm_fit(docs, words=merged, **kw).collect()
    }
    want = {
        r["piece"]: (r["cnt"], r["lp"])
        for r in unigram_lm_fit(docs, **kw).collect()
    }
    assert got == want


def test_msprt_readout_matches_reference_model(spark):
    """E26 semantics vs an independent numpy/math model: Λ and the
    always-valid p from exact moments, control row carries NULL
    inferential columns, a large planted effect is significant while
    a null effect is not, and degenerate variance yields NULL p."""
    import math

    from basis_devkit_spark.operators.events import msprt_readout

    rows = (
        [("control", i, 10 + (i * 7) % 5) for i in range(200)]
        + [("boost", 1000 + i, 14 + (i * 7) % 5) for i in range(200)]
        + [("same", 2000 + i, 10 + ((i + 3) * 7) % 5) for i in range(200)]
        + [("flat", 3000 + i, 10) for i in range(50)]
    )
    df = spark.createDataFrame(rows, "arm string, user_id long, y long")
    tau = 0.5
    out = {
        r["arm"]: r
        for r in msprt_readout(df.select("arm", "y"), tau=tau).collect()
    }

    def model(arm):
        ys = [y for a, _u, y in rows if a == arm]
        cs = [y for a, _u, y in rows if a == "control"]
        n, cn = len(ys), len(cs)
        mean_t, mean_c = sum(ys) / n, sum(cs) / cn
        var = lambda v: (
            (len(v) * sum(x * x for x in v) - sum(v) ** 2)
            / (len(v) * (len(v) - 1))
        )
        sp2 = ((n - 1) * var(ys) + (cn - 1) * var(cs)) / (n + cn - 2)
        V = sp2 * (1 / cn + 1 / n)
        if V <= 0:
            return None
        d = mean_t - mean_c
        lam = math.sqrt(V / (V + tau**2)) * math.exp(
            d * d * tau**2 / (2 * V * (V + tau**2))
        )
        return math.floor(min(1.0, 1.0 / lam) * 1e6 + 0.5) / 1e6

    assert out["control"]["delta"] is None
    assert out["control"]["p_always_valid"] is None
    assert out["control"]["significant"] == 0
    assert out["boost"]["p_always_valid"] == model("boost")
    assert out["same"]["p_always_valid"] == model("same")
    assert out["boost"]["significant"] == 1  # +4 planted effect
    assert out["same"]["significant"] == 0  # same distribution
    # a treatment arm with zero pooled... V>0 here since control varies;
    # degenerate case: both sides constant -> V = 0 -> NULL p
    const = spark.createDataFrame(
        [("control", 5)] * 10 + [("t", 5)] * 10, "arm string, y long"
    )
    oc = {r["arm"]: r for r in msprt_readout(const).collect()}
    assert oc["t"]["p_always_valid"] is None and oc["t"]["significant"] == 0


def test_kcore_decompose_known_graph(spark):
    """D92 h-index fixpoint equals hand-known corenesses: K4 → 3, a
    hanging path → 1, a separate triangle → 2, an isolated edge → 1;
    and the per-round plan never collects neighbor lists (histogram
    agg + bounded fold)."""
    from basis_devkit_spark.operators.graphrank import kcore_decompose

    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
        (4, 5), (5, 6),                                  # tail off K4
        (7, 8), (8, 9), (7, 9),                          # triangle
        (10, 11),                                        # isolated edge
        (2, 1),                                          # dup reversed
        (3, 3),                                          # self loop
    ]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["core"] for r in kcore_decompose(df).collect()}
    want = {1: 3, 2: 3, 3: 3, 4: 3, 5: 1, 6: 1,
            7: 2, 8: 2, 9: 2, 10: 1, 11: 1}
    assert got == want


def test_exif_tiff_fields_construction_truth(spark):
    """D05j: bytewise-constructed JPEG fixtures parsed back to their
    construction truth — LE/BE byte orders, SHORT and LONG tag types,
    APP0-before-APP1 skipping, corrupt Exif magic, non-JPEG input."""
    import struct

    from basis_devkit_spark.operators.multimodal import exif_tiff_fields

    def tiff_ifd(le, entries):
        bo = b"II" if le else b"MM"
        e = "<" if le else ">"
        out = bo + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
        out += struct.pack(e + "H", len(entries))
        for tag, typ, val in entries:
            out += struct.pack(e + "H", tag) + struct.pack(e + "H", typ)
            out += struct.pack(e + "I", 1)
            out += (
                struct.pack(e + "H", val) + b"\x00\x00"
                if typ == 3
                else struct.pack(e + "I", val)
            )
        return out + struct.pack(e + "I", 0)

    def jpeg(app0=False, exif=None, corrupt=False):
        b0 = b"\xff\xd8"
        if app0:
            p = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
            b0 += b"\xff\xe0" + struct.pack(">H", len(p) + 2) + p
        if exif is not None:
            seg = (b"Fake\x00\x00" if corrupt else b"Exif\x00\x00") + exif
            b0 += b"\xff\xe1" + struct.pack(">H", len(seg) + 2) + seg
        return b0 + b"\xff\xd9"

    cases = [
        (1, jpeg(exif=tiff_ifd(True, [(0x0100, 4, 640), (0x0101, 4, 480),
                                      (0x0112, 3, 6)])),
         (True, True, "II", 3, 6, 640, 480)),
        (2, jpeg(app0=True, exif=tiff_ifd(False, [(0x0112, 3, 1)])),
         (True, True, "MM", 1, 1, None, None)),
        (3, jpeg(app0=True), (True, False, None, None, None, None, None)),
        (4, b"\x89PNG\r\n", (False, False, None, None, None, None, None)),
        (5, jpeg(exif=tiff_ifd(True, [(0x0112, 3, 8)]), corrupt=True),
         (True, False, None, None, None, None, None)),
        (6, jpeg(exif=tiff_ifd(False, [(0x0100, 3, 320), (0x0101, 3, 240)])),
         (True, True, "MM", 2, None, 320, 240)),
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in cases], "doc_id long, content binary"
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", exif_tiff_fields("content").alias("s")
        ).select("doc_id", "s.*").collect()
    }
    for i, _b, (j, e, bo, n, o, w, h) in cases:
        r = out[i]
        assert (r["is_jpeg"], r["has_exif"]) == (j, e), i
        assert r["byte_order"] == bo and r["n_ifd_entries"] == n, i
        assert r["orientation"] == o, i
        assert (r["image_width"], r["image_length"]) == (w, h), i


def test_power_mde_readout_matches_reference_model(spark):
    """E27: MDE equals an independent math model (pooled variance +
    Acklam z-sum), a bigger arm has a smaller MDE, control carries
    NULL inferential columns, and zero variance guards to NULL."""
    import math

    from basis_devkit_spark.operators.events import (
        _norm_ppf,
        power_mde_readout,
    )

    rows = (
        [("control", i, 10 + (i * 7) % 5) for i in range(400)]
        + [("big", 1000 + i, 11 + (i * 7) % 5) for i in range(400)]
        + [("small", 2000 + i, 11 + (i * 7) % 5) for i in range(40)]
    )
    df = spark.createDataFrame(rows, "arm string, user_id long, y long")
    out = {
        r["arm"]: r
        for r in power_mde_readout(df.select("arm", "y")).collect()
    }
    z = _norm_ppf(0.975) + _norm_ppf(0.8)

    def model(arm):
        ys = [y for a, _u, y in rows if a == arm]
        cs = [y for a, _u, y in rows if a == "control"]
        n, cn = len(ys), len(cs)
        var = lambda v: (
            (len(v) * sum(x * x for x in v) - sum(v) ** 2)
            / (len(v) * (len(v) - 1))
        )
        sp2 = ((n - 1) * var(ys) + (cn - 1) * var(cs)) / (n + cn - 2)
        se = math.sqrt(sp2 * (1 / cn + 1 / n))
        fs = lambda v: math.floor(v * 1e6 + 0.5) / 1e6
        return fs(z * se), fs(z * se / abs(sum(cs) / cn))

    assert (out["big"]["mde_abs"], out["big"]["mde_rel"]) == model("big")
    assert (out["small"]["mde_abs"], out["small"]["mde_rel"]) == model(
        "small"
    )
    assert out["big"]["mde_abs"] < out["small"]["mde_abs"]
    assert out["control"]["mde_abs"] is None
    const = spark.createDataFrame(
        [("control", 5)] * 10 + [("t", 5)] * 10, "arm string, y long"
    )
    oc = {r["arm"]: r for r in power_mde_readout(const).collect()}
    assert oc["t"]["mde_abs"] is None
