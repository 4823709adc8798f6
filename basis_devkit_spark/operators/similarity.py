"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small) query
  side, JVM-side dot product via ``zip_with`` + ``aggregate``, per-query
  top-k window. One scan of the corpus, no shuffle of the corpus itself
  beyond the final top-k aggregation — the right baseline at any scale
  when |queries| is broadcastable.
- ``lsh_topk`` — random-hyperplane (sign) LSH bucketing: candidates share
  a band bucket, exact cosine re-rank on candidates only. Sublinear
  candidate sets at 100 TB; recall tunable via (num_planes, bands).
- ``ivf_topk`` — IVF: KMeans centroids (Spark ML, trained on a sample),
  probe the ``nprobe`` nearest centroids per query — the classic
  coarse-quantizer ANN layout.
- ``ann_join`` — corpus-to-corpus top-k join (neither side broadcast):
  shared coarse quantizer, cell EQUI-join candidates, two-phase top-k —
  the retrieval shape that still exists when both sides are huge.
- ``ann_index_build`` / ``ann_join_indexed`` — the persistable split of
  ``ann_join``: fit + assign + pre-cast/pre-norm once at ingest, store
  the artifact (cells partitioned by cell), answer queries with only
  left-side probe work. Build-once/query-many for serving corpora.
- ``deterministic_kmeans`` / ``fit_quantizer_sample`` — bit-reproducible
  driver-side spherical Lloyd's quantizer fit on a bounded ordered
  sample, for pipelines that must replay (or oracle-check) exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from basis_devkit_spark.session import local_relation


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v))


def cosine_similarity_col(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<numeric> columns — pure SQL
    expressions (codegen), computed in double precision."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def normalize_embeddings(df: DataFrame, vec_col: str, out_col: str | None = None) -> DataFrame:
    """L2-normalize an embedding column (double precision). The norm is
    let-bound (``exprs.let_``): referenced inline inside the per-element
    lambda it would be re-aggregated over the whole vector for every
    component — O(dim²) per row under interpreted HOFs."""
    from basis_devkit_spark.operators.exprs import let_

    out_col = out_col or vec_col
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.withColumn(
        out_col, let_(_norm(v), lambda n: F.transform(v, lambda x: x / n))
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    metric: str = "cosine",
    score_round: int | None = None,
) -> DataFrame:
    """Exact top-k: (query_id, match_id, score, rank). Queries are
    broadcast — keep |queries| modest (≤ ~10^5 rows); the corpus streams.
    ``score_round``: round scores BEFORE ranking (same cross-engine
    reproducibility contract as the ANN operators — see ``ann_join``)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    joined = c.crossJoin(F.broadcast(q)).filter(F.col("query_id") != F.col("match_id"))
    if metric == "cosine":
        score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    elif metric == "dot":
        score = _dot(
            F.transform("__qv", lambda x: x.cast("double")),
            F.transform("__cv", lambda x: x.cast("double")),
        )
    elif metric == "l2":
        score = -F.sqrt(
            F.aggregate(
                F.zip_with("__qv", "__cv", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
        )
    else:
        raise ValueError(f"unknown metric {metric}")
    if score_round is not None:
        score = F.round(score, score_round)
    scored = joined.select("query_id", "match_id", score.alias("score"))
    return _topk_by_query(scored, k)


def _topk_by_query(
    scored: DataFrame, k: int, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Two-phase aggregation top-k over (query_id, match_id, score) rows.

    Phase 1 takes a local top-k per (query, input partition) — completes
    map-side, so the shuffle carries only |queries| x |partitions| x k
    structs. Phase 2 merges the local winners per query. This avoids the
    Window row_number() plan, which shuffles EVERY scored row to a single
    reducer per query — the scale-killer at a 100 TB corpus.

    Sorting uses (negated score, match_id) structs so ascending array sort
    yields score desc with match_id asc tie-breaks; double negation is a
    sign-bit flip, bit-exact for IEEE doubles. ``extra_cols`` ride the
    struct as payload AFTER the (ns, match_id) sort key — (score,
    match_id) is already a total order per query, so payload fields are
    never consulted by the sort; this lets callers carry attributes
    (e.g. a label) through the top-k without a post-hoc join back to
    the corpus.
    """
    key = F.struct(
        (-F.col("score")).alias("ns"),
        F.col("match_id").alias("match_id"),
        *[F.col(c).alias(c) for c in extra_cols],
    )
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .groupBy("query_id", "__pid")
        .agg(F.slice(F.array_sort(F.collect_list(key)), 1, k).alias("__tk"))
    )
    merged = local.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__tk"))), 1, k).alias("__tk")
    )
    ex = merged.select("query_id", F.posexplode("__tk").alias("__r0", "__s"))
    return ex.select(
        "query_id",
        F.col("__s.match_id").alias("match_id"),
        *[F.col(f"__s.{c}").alias(c) for c in extra_cols],
        (-F.col("__s.ns")).alias("score"),
        (F.col("__r0") + 1).alias("rank"),
    )


def deterministic_kmeans(mat, k: int, iters: int = 10, seed: int = 42) -> list[list[float]]:
    """Spherical Lloyd's k-means, deterministic given the same input
    row order AND the same numpy/BLAS build: seeded k-means++ init via
    ``RandomState``, max-cosine assignment (argmax ties → lowest cell),
    mean-then-renormalize update, empty cells keep their previous center.
    The ``unit @ cents.T`` products go through BLAS gemm, whose float
    reduction order can differ across BLAS builds/thread counts — so
    bit-reproducibility is scoped to one numpy/BLAS build; a fit replayed
    on different hardware may assign near-tie rows to different cells
    (persist the FITTED centroids, not the fit recipe, when an index must
    be portable). Runs on the DRIVER over a bounded sample — the
    quantizer-fit shape that is tractable at any corpus scale (centroid
    quality converges long before the sample cap; the Spark ML KMeans
    path in :func:`ivf_topk` exists for in-cluster fits but its
    cross-partition float reduction order is not reproducible, so
    pipelines that must be replayable — or oracle-checkable — use this).
    """
    import numpy as np

    X = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    unit = X / np.where(norms == 0.0, 1.0, norms)
    rng = np.random.RandomState(seed)
    chosen = [int(rng.randint(len(unit)))]
    for _ in range(k - 1):
        d = np.maximum(1.0 - (unit @ unit[chosen].T).max(axis=1), 0.0)
        s = d.sum()
        p = d / s if s > 0.0 else np.full(len(unit), 1.0 / len(unit))
        chosen.append(int(rng.choice(len(unit), p=p)))
    cents = unit[chosen].copy()
    for _ in range(iters):
        assign = np.argmax(unit @ cents.T, axis=1)
        for j in range(k):
            members = unit[assign == j]
            if len(members):
                c = members.sum(axis=0)
                n = float(np.linalg.norm(c))
                if n > 0.0:
                    cents[j] = c / n
    return [[float(x) for x in c] for c in cents]


def fit_quantizer_sample(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    max_train_rows: int = 100_000,
    iters: int = 10,
    seed: int = 42,
) -> list[tuple[int, list[float]]]:
    """Fit a reproducible coarse quantizer on the first ``max_train_rows``
    corpus vectors by ``id_col`` (a TakeOrdered limit — one bounded
    collect) via :func:`deterministic_kmeans`. Returns ``[(cell, center)]``
    ready for the ``centroids=`` parameter of :func:`ivf_topk` /
    :func:`ann_join` — same fit in, same cells out, on every replay."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(max_train_rows)
        .collect()
    )
    mat = [[float(x) for x in r[1]] for r in rows]
    return [(j, c) for j, c in enumerate(deterministic_kmeans(mat, k, iters, seed))]


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from one row — fetches only the size int,
    not the vector itself (cheap driver round-trip)."""
    row = df.select(F.size(vec_col).alias("d")).first()
    if row is None:
        raise ValueError("cannot infer embedding dim from an empty DataFrame")
    return int(row["d"])


def _sign_lsh_buckets(
    df: DataFrame, vec_col: str, num_planes: int, bands: int, dim: int, seed: int = 42
) -> DataFrame:
    """Random-hyperplane signature → band buckets. Hyperplanes are a
    deterministic pseudo-random matrix folded into SQL literals (driver-side
    constants, broadcast implicitly with the plan)."""
    import random

    rng = random.Random(seed)
    rows_per_band = num_planes // bands
    planes = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    bits = [
        (
            F.aggregate(
                F.zip_with(
                    vd,
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
            > 0
        ).cast("int")
        for plane in planes
    ]
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "", *[c.cast("string") for c in bits[b * rows_per_band : (b + 1) * rows_per_band]]
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    return df.withColumn("__bb", F.explode(F.array(*band_structs))).select(
        *df.columns, F.col("__bb.band").alias("band"), F.col("__bb.bh").alias("bh")
    )


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    num_planes: int = 16,
    bands: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k via sign-LSH banding + exact re-rank of candidates."""
    if dim is None:
        dim = _vec_dim(corpus, vec_col)
    qb = _sign_lsh_buckets(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")),
        "__qv",
        num_planes,
        bands,
        dim,
    )
    cb = _sign_lsh_buckets(
        corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv")),
        "__cv",
        num_planes,
        bands,
        dim,
    )
    cand = (
        qb.join(cb, ["band", "bh"])
        .filter(F.col("query_id") != F.col("match_id"))
        .dropDuplicates(["query_id", "match_id"])
    )
    scored = cand.select(
        "query_id",
        "match_id",
        cosine_similarity_col(F.col("__qv"), F.col("__cv")).alias("score"),
    )
    return _topk_by_query(scored, k)


def _cell_rank_structs(vec: Column, cents: list[tuple[int, list[float]]]) -> Column:
    """Array of (−cosine(vec, centroid), cell) structs — ``array_min`` of it
    is the nearest cell (cosine desc, cell asc on ties; struct comparison
    is lexicographic), ``array_sort`` ranks all cells. Centroids are SQL
    literals: evaluation is a per-row projection, no join, no shuffle.

    LITERAL form — the plan embeds ``nlist × dim`` literal nodes, so
    Catalyst compile/codegen time grows with the quantizer (~1.5 s floor
    at nlist=16·dim=16, blowing up at production nlist=4096·dim=768).
    No operator uses it: every path goes through :func:`_with_cell_ranks`,
    which moves the centroids into a broadcast RELATION and keeps compile
    time flat in nlist. It stays only as the reference the broadcast form
    is tested bit-identical against (same sequential folds over the same
    doubles)."""
    return F.array(
        *[
            F.struct(
                (-cosine_similarity_col(vec, F.array(*[F.lit(w) for w in c]))).alias("nc"),
                F.lit(j).cast("int").alias("cell"),
            )
            for j, c in cents
        ]
    )


def _with_cell_ranks(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec: Column,
    out_col: str,
) -> DataFrame:
    """Attach the (−cosine, cell) rank array for every centroid to each
    row as ``out_col`` — ``array_min`` of it is the assigned cell,
    ``slice(array_sort(...), 1, nprobe)`` the probe set.

    The centroid matrix rides in a single-row broadcast relation holding
    ``array<struct<cell,center>>`` and the ranks are a per-row
    ``transform`` over that array — a constant-key BroadcastHashJoin
    against ONE row (map-side, no shuffle, no per-query re-fit) whose
    plan size and Catalyst compile time are FLAT in nlist, vs the
    literal form's ``nlist × dim`` expression nodes (which at
    IVF-production scale, nlist=4096 · dim=768 ≈ 3M literals, explodes
    driver-side plan construction). Arithmetic is bit-identical to the
    literal form: the same sequential ``aggregate`` folds evaluate over
    the same double arrays, only their storage differs (relation data vs
    plan literals).
    """
    spark = df.sparkSession
    packed = spark.createDataFrame(
        [(0, [(int(j), [float(x) for x in c]) for j, c in sorted(cents)])],
        "__ck int, __cents array<struct<cell:int,center:array<double>>>",
    )
    ranked = F.transform(
        F.col("__cents"),
        lambda s: F.struct(
            (-cosine_similarity_col(vec, s["center"])).alias("nc"),
            s["cell"].alias("cell"),
        ),
    )
    # The join key is 0 for every row but derived from the vector column
    # (x*0 can't constant-fold: null*0 is null) so the equi-join survives
    # optimization as a BroadcastHashJoin instead of degenerating into a
    # nested-loop join; coalesce keeps null-vector rows joinable.
    ck = F.coalesce(F.size(vec) * 0, F.lit(0))
    return (
        df.withColumn("__ck", ck)
        .join(F.broadcast(packed), "__ck")
        .withColumn(out_col, ranked)
        .drop("__ck", "__cents")
    )


def _assign_cells(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    out_id: str,
    nlist: int,
    seed: int,
    max_train_rows: int,
    centroids: DataFrame | list[tuple[int, list[float]]] | None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Coarse-quantizer cell assignment shared by ``ivf_topk`` and
    ``semantic_dedup``: returns ``(assigned, cents)`` where ``assigned``
    carries ``(out_id, __cv, __cell)`` and ``cents`` is the driver-resident
    ``[(cell, center), ...]`` list.

    Default quantizer is KMeans trained on a bounded SAMPLE of the corpus
    (``max_train_rows`` cap — fitting on the full corpus is a scale killer
    at 100 TB; centroid quality converges long before that). With explicit
    ``centroids`` (``cell int, center array<double>``) the assignment is a
    deterministic shuffle-free per-row projection over a broadcast
    centroid relation."""
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        corpus_v = corpus.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias("__cv"),
            array_to_vector(F.transform(vec_col, lambda x: x.cast("double"))).alias("__feat"),
        )
        n = corpus_v.count()
        if n > max_train_rows:
            # Seeded Bernoulli sample, slightly over-drawn to stay near the cap.
            train = corpus_v.sample(
                fraction=min(1.0, 1.1 * max_train_rows / n), seed=seed
            )
        else:
            train = corpus_v
        km = KMeans(k=nlist, seed=seed, featuresCol="__feat", predictionCol="__cell")
        model = km.fit(train)
        assigned = model.transform(corpus_v).select(out_id, "__cv", "__cell")
        cents = [
            (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
        ]
    else:
        # Centroids are driver-resident constants either way (KMeans
        # collects its centers too — bounded index metadata, nlist rows).
        # Cell assignment is a shuffle-free per-row projection (no window,
        # no re-fit); the centroid matrix rides in a broadcast relation so
        # plan size stays flat in nlist (see _with_cell_ranks). Accepts
        # either a (cell, center) DataFrame or a driver-resident
        # [(cell, center)] list (e.g. from fit_quantizer_sample / a
        # persisted ann_index).
        if isinstance(centroids, DataFrame):
            cents = [
                (int(r["cell"]), [float(x) for x in r["center"]])
                for r in centroids.collect()
            ]
        else:
            cents = [(int(j), [float(x) for x in c]) for j, c in centroids]
        corpus_v = corpus.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias("__cv")
        )
        assigned = _with_cell_ranks(
            corpus_v, cents, F.col("__cv"), "__cr"
        ).withColumn("__cell", F.array_min("__cr").getField("cell")).drop("__cr")
    return assigned, cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    max_train_rows: int = 100_000,
    centroids: DataFrame | list[tuple[int, list[float]]] | None = None,
    score_round: int | None = None,
) -> DataFrame:
    """IVF ANN: coarse quantizer → corpus rows assigned to their nearest
    centroid → queries probe ``nprobe`` nearest centroids → exact cosine
    within probed cells.

    Quantizer: by default KMeans trained on a bounded SAMPLE of the corpus
    (``max_train_rows`` cap — fitting on the full corpus is a scale killer
    at 100 TB; centroid quality converges long before that). Pass
    ``centroids`` (``cell int, center array<double>``) to inject a
    deterministic quantizer instead — e.g. seed vectors drawn from the
    corpus itself (cosine-metric assignment, FAISS IVF-flat-IP style);
    deterministic centroids make the whole pipeline reproducible enough to
    oracle-check (queries/pyoracle.py ivf_candidates)."""
    assigned, cents = _assign_cells(
        corpus, vec_col, id_col, "match_id", nlist, seed, max_train_rows,
        centroids,
    )

    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    # Probe the nprobe nearest centroids per query: sort (−cos, cell)
    # structs ascending → cosine desc with cell-asc tie-break, a total
    # deterministic order. Pure projection + explode of ≤ nprobe rows.
    q_ranked = _with_cell_ranks(q, cents, F.col("__qv"), "__cr")
    probes = F.slice(F.array_sort(F.col("__cr")), 1, nprobe)
    q_cells = q_ranked.withColumn("__probe", F.explode(probes)).select(
        "query_id", "__qv", F.col("__probe.cell").alias("__cell")
    )
    cand = q_cells.join(assigned, "__cell").filter(F.col("query_id") != F.col("match_id"))
    score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    if score_round is not None:
        # rank on the rounded value (match_id tie-break) — see ann_join
        score = F.round(score, score_round)
    scored = cand.select("query_id", "match_id", score.alias("score"))
    return _topk_by_query(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ threshold)
    via sign-LSH candidate generation + exact verify.

    The banded self-join and the pair dedup move ONLY ids (the §8
    shuffle-light-proxies rule): the previous shape carried both full
    vectors through every multi-band candidate row and the
    dropDuplicates exchange (~vector-width × candidate-count bytes);
    vectors re-attach per UNIQUE pair afterwards, which also computes
    each pair's cosine once instead of once per shared band."""
    dim = _vec_dim(df, vec_col)
    b = _sign_lsh_buckets(
        df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
        "__v",
        num_planes,
        bands,
        dim,
    ).select("__id", "band", "bh")
    cand = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # per-id double view + norm computed ONCE per vector (identical ops
    # in identical order as cosine_similarity_col, just hoisted out of
    # the pair relation — bit-identical cosines), so each candidate
    # pair pays one dot product instead of a dot plus two norms
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = df.select(
        F.col(id_col).alias("__jid"),
        vd.alias("__jv"),
        _norm(vd).alias("__jn"),
    )
    pairs = (
        cand.join(vecs, F.col("id_a") == F.col("__jid"))
        .select(
            "id_a", "id_b", F.col("__jv").alias("__va"), F.col("__jn").alias("__na")
        )
        .join(vecs, F.col("id_b") == F.col("__jid"))
        .select(
            "id_a", "id_b", "__va", "__na",
            F.col("__jv").alias("__vb"), F.col("__jn").alias("__nb"),
        )
    )
    cosine = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.withColumn("cosine", cosine)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nlist: int = 16,
    seed: int = 42,
    max_train_rows: int = 100_000,
    centroids: DataFrame | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540, public): coarse-quantize the embedding space into
    ``nlist`` cells, then compare pairs only WITHIN a cell — the classic
    trick that turns the O(n²) all-pairs cosine into per-cell blocks.

    Returns ``(id_a, id_b, cell, cosine)`` with ``id_a < id_b`` and
    ``cosine ≥ threshold``. Near-dups that straddle a cell boundary are
    missed by construction — that recall/cost trade is the published
    algorithm, tunable via ``nlist`` (recall test: tests/test_operators.py).

    Scale shape: cell assignment is either a sampled KMeans fit + model
    projection or (with explicit ``centroids``) a shuffle-free broadcast-
    relation projection; the self-join shuffles the corpus ONCE on ``__cell``.
    ``max_cell_size`` is the same degenerate-bucket safety rail as the
    MinHash/SimHash self-joins (a cell of n identical vectors is n²/2
    pairs): cells over the cap are dropped from pairing and must be
    handled upstream (exact_dedup first is the documented workflow)."""
    assigned, _ = _assign_cells(
        df, vec_col, id_col, "__id", nlist, seed, max_train_rows, centroids
    )
    assigned = assigned.select("__id", "__cv", "__cell")
    if max_cell_size is not None:
        from basis_devkit_spark.operators.dedup import _drop_hot_buckets

        assigned = _drop_hot_buckets(assigned, ["__cell"], max_cell_size)
    # Candidate generation moves (id, cell) ONLY — the d02d lesson: the
    # cell self-join would otherwise carry both full vectors through
    # the exchange and every comparison row. Vectors re-attach per
    # candidate pair below, with each vector's double view + norm
    # computed once per id (identical ops in identical order as
    # cosine_similarity_col — bit-identical cosines), so a pair pays
    # one dot product instead of a dot plus two norms.
    slim = assigned.select("__id", "__cell")
    cand = (
        slim.alias("a")
        .join(
            slim.alias("b"),
            (F.col("a.__cell") == F.col("b.__cell"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
            F.col("a.__cell").alias("cell"),
        )
    )
    # vectors come from the base relation (``__cv`` is the raw vec_col,
    # so this is value-identical) — re-deriving them through ``assigned``
    # would re-run the cell-assignment projection per join side
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vecs = df.select(
        F.col(id_col).alias("__jid"),
        vd.alias("__jv"),
        _norm(vd).alias("__jn"),
    )
    pairs = (
        cand.join(vecs, F.col("id_a") == F.col("__jid"))
        .select(
            "id_a", "id_b", "cell",
            F.col("__jv").alias("__va"), F.col("__jn").alias("__na"),
        )
        .join(vecs, F.col("id_b") == F.col("__jid"))
        .select(
            "id_a", "id_b", "cell", "__va", "__na",
            F.col("__jv").alias("__vb"), F.col("__jn").alias("__nb"),
        )
        .withColumn(
            "cosine",
            _dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb")),
        )
        .select("id_a", "id_b", "cell", "cosine")
    )
    return pairs.filter(F.col("cosine") >= threshold)


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    nlist: int = 16,
    seed: int = 42,
    max_train_rows: int = 100_000,
    centroids: DataFrame | None = None,
    max_cell_size: int | None = None,
    keep_by: str | None = None,
) -> DataFrame:
    """Keep-one semantic dedup over ``semantic_dup_pairs``: drop every row
    that has a LOWER-id near-duplicate in its cell (the same deterministic
    greedy keep-first rule as ``minhash_dedup``), return the survivors with
    their original columns. One extra shuffle (the anti-join on id).

    ``keep_by``: keep the BEST copy instead of the min-id copy — each
    near-dup pair drops the row later in ``(-keep_by, id)`` order
    (same rule and cost note as ``minhash_dedup(keep_by=...)``)."""
    pairs = semantic_dup_pairs(
        df,
        vec_col,
        id_col,
        threshold,
        nlist,
        seed,
        max_train_rows,
        centroids,
        max_cell_size,
    )
    if keep_by is None:
        dropped = pairs.select(F.col("id_b").alias("__drop")).distinct()
    else:
        from basis_devkit_spark.operators.dedup import _keeper_losers

        dropped = (
            _keeper_losers(pairs, df, id_col, keep_by)
            .withColumnRenamed(id_col, "__drop")
            .distinct()
        )
    return df.join(dropped, on=F.col(id_col) == F.col("__drop"), how="left_anti")


def ann_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    centroids: DataFrame | list[tuple[int, list[float]]] | None = None,
    max_cell_size: int | None = None,
    seed: int = 42,
    max_train_rows: int = 100_000,
    score_round: int | None = None,
) -> DataFrame:
    """Corpus-to-corpus approximate nearest-neighbor JOIN: EVERY left
    vector gets its top-``k`` cosine neighbors from ``right`` — the
    retrieval shape (dataset enrichment, eval-set neighbor lookup,
    RAG index build) where BOTH sides are large, so neither can be
    broadcast the way ``brute_force_topk`` broadcasts its query set.

    Scale shape: both sides share one coarse quantizer (sampled KMeans,
    or explicit ``centroids`` for a deterministic shuffle-free
    broadcast-relation projection). ``right`` lands in exactly ONE cell; each ``left`` row
    replicates to its ``nprobe`` nearest cells (bounded fan-out). The
    candidate set is the cell EQUI-join — one shuffle of each side on
    ``__cell``, never a cross join — and the exact cosine re-rank runs
    only on candidates, reduced by the same two-phase map-side top-k as
    every other similarity operator (no per-query window). Hot cells are
    capped on the right with ``max_cell_size`` (the MinHash/SimHash/
    semantic-dedup degenerate-bucket rail). Output:
    ``(query_id, match_id, score, rank)``.

    ``score_round``: round scores to N decimal places BEFORE the top-k
    rank, so ordering is decided on the rounded value with the
    deterministic ``match_id`` tie-break. Two engines computing the same
    cosine through different float pipelines can disagree in the final
    ulps; ranking on raw doubles lets such sub-1e-15 differences flip
    rank/membership at near-ties, while the rounded rank only flips in
    the (far rarer) case of a true value within ~1 ulp of a rounding
    boundary. Use it whenever results must be reproducible across
    engines/hardware (cross-engine oracle checks, regression baselines).

    One-shot convenience over the persistable pair
    :func:`ann_index_build` + :func:`ann_join_indexed` — this fits the
    quantizer and assigns the right corpus EVERY call; a serving index
    does that once and persists it.
    """
    centroids_df, cells = ann_index_build(
        right,
        vec_col=vec_col,
        right_id=right_id,
        nlist=nlist,
        centroids=centroids,
        max_cell_size=max_cell_size,
        seed=seed,
        max_train_rows=max_train_rows,
    )
    return ann_join_indexed(
        left,
        centroids_df,
        cells,
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        left_id=left_id,
        right_id=right_id,
        score_round=score_round,
    )


def ann_index_build(
    right: DataFrame,
    vec_col: str = "embedding",
    right_id: str = "vec_id",
    nlist: int = 16,
    centroids: DataFrame | list[tuple[int, list[float]]] | None = None,
    max_cell_size: int | None = None,
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable half of an ANN retrieval index — the IVF
    build-once artifact a 100 TB RAG corpus computes at ingest, not per
    query. Returns two plain-schema DataFrames ready for managed storage
    (write both to a :class:`~basis_devkit_spark.storage.store.TableStore`,
    the ``corpus_sig=`` pattern of ``minhash_dedup_against``):

    - centroids: ``(cell int, center array<double>)`` — the fitted coarse
      quantizer (sampled KMeans, or the explicit deterministic
      ``centroids``);
    - cells: ``(<right_id> , cell int, vecd array<double>, vnorm double)``
      — every right vector assigned to exactly ONE cell, pre-cast to
      double with its norm pre-folded, so query-time candidates pay a
      single dot product each and the corpus is NEVER re-cast, re-normed
      or re-assigned.

    Parquet round-trips preserve doubles bit-for-bit, so
    ``ann_join_indexed`` over the persisted index returns byte-identical
    results to the one-shot :func:`ann_join` with the same quantizer.
    Partition/bucket the persisted cells table BY ``cell`` and the
    query-time equi-join prunes straight to probed cells.
    """
    r_assigned, cents = _assign_cells(
        right, vec_col, right_id, "__rid", nlist, seed, max_train_rows,
        centroids,
    )
    if max_cell_size is not None:
        from basis_devkit_spark.operators.dedup import _drop_hot_buckets

        r_assigned = _drop_hot_buckets(r_assigned, ["__cell"], max_cell_size)
    # Hoist everything per-SIDE out of the per-PAIR score: cast each
    # vector to double ONCE and fold its norm ONCE at BUILD time, so a
    # query-time candidate pair costs a single dot fold + one divide
    # instead of two cast-transforms and three folds. Bit-exact: the
    # hoisted norm is the same sequential fold over the same double array
    # the per-pair form evaluates, so score = dot/(ln*rn) is the identical
    # expression value (measured 2.6x faster at 3.1M candidates, sf0.1).
    rvd = F.transform(F.col("__cv"), lambda x: x.cast("double"))
    cells = (
        r_assigned.select("__rid", "__cell", rvd.alias("vecd"))
        .withColumn("vnorm", _norm(F.col("vecd")))
        .select(
            F.col("__rid").alias(right_id),
            F.col("__cell").cast("int").alias("cell"),
            "vecd",
            "vnorm",
        )
    )
    spark = right.sparkSession
    centroids_df = local_relation(
        spark,
        [(int(j), [float(x) for x in c]) for j, c in cents],
        "cell int, center array<double>",
    )
    return centroids_df, cells


def ann_index_assign(
    df: DataFrame,
    centroids: DataFrame | list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The INCREMENTAL half of :func:`ann_index_build`: assign new
    vectors to the cells of an EXISTING quantizer and emit rows in the
    persisted-cells schema ``(id, cell, vecd, vnorm)``, ready to append/
    upsert into the index's cells store. The whole thing is a pure
    per-row projection over a broadcast centroid relation — no fit, no
    shuffle, no state — so it runs unchanged under Structured Streaming:
    a 100 TB serving index ingests its crawl feed by streaming batches
    through this and appending, refitting the quantizer only on drift,
    never per batch. Assignment arithmetic is identical to build time, so
    incrementally-added rows land in exactly the cell a full rebuild
    would give them — PROVIDED the index was built with
    ``max_cell_size=None``: the build path drops hot-cell rows past that
    cap while this incremental path has no such rail, so a capped index
    diverges from a rebuild as batches accumulate (re-apply the cap with
    a periodic compaction over the cells store if it matters)."""
    if isinstance(centroids, DataFrame):
        cents = [
            (int(r["cell"]), [float(x) for x in r["center"]])
            for r in centroids.collect()
        ]
    else:
        cents = [(int(j), [float(x) for x in c]) for j, c in centroids]
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col), vecd.alias("vecd"))
    return (
        _with_cell_ranks(base, cents, F.col("vecd"), "__cr")
        .withColumn("cell", F.array_min("__cr").getField("cell"))
        .drop("__cr")
        .withColumn("vnorm", _norm(F.col("vecd")))
        .select(id_col, F.col("cell").cast("int"), "vecd", "vnorm")
    )


def ann_join_indexed(
    left: DataFrame,
    centroids: DataFrame | list[tuple[int, list[float]]],
    cells: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    vec_col: str = "embedding",
    left_id: str = "vec_id",
    right_id: str = "vec_id",
    score_round: int | None = None,
) -> DataFrame:
    """Query a persisted ANN index (see :func:`ann_index_build`): each
    left vector probes its ``nprobe`` nearest centroids (a per-row
    projection over a broadcast centroid relation — no fit, no shuffle,
    plan size flat in nlist; see :func:`_with_cell_ranks`), candidates
    come from the cell equi-join against the prebuilt ``cells`` table,
    and only the left side pays cast/norm folds at query time. Same
    output contract and determinism options as :func:`ann_join`."""
    if isinstance(centroids, DataFrame):
        cents = [
            (int(r["cell"]), [float(x) for x in r["center"]])
            for r in centroids.collect()
        ]
    else:
        cents = [(int(j), [float(x) for x in c]) for j, c in centroids]
    r_side = cells.select(
        F.col(right_id).alias("__rid"),
        F.col("cell").alias("__cell"),
        F.col("vecd").alias("__cvd"),
        F.col("vnorm").alias("__rn"),
    )
    lv = left.select(F.col(left_id).alias("__lid"), F.col(vec_col).alias("__lv"))
    lv_ranked = _with_cell_ranks(lv, cents, F.col("__lv"), "__cr")
    probe_cells = F.slice(F.array_sort(F.col("__cr")), 1, nprobe)
    lvd = F.transform(F.col("__lv"), lambda x: x.cast("double"))
    l_probe = (
        lv_ranked.withColumn("__lvd", lvd)
        .withColumn("__ln", _norm(F.col("__lvd")))
        .withColumn(
            "__cell",
            F.explode(F.transform(probe_cells, lambda s: s.getField("cell"))),
        )
        .drop("__lv", "__cr")
    )
    cand = l_probe.join(r_side, "__cell")
    score = _dot(F.col("__lvd"), F.col("__cvd")) / (F.col("__ln") * F.col("__rn"))
    if score_round is not None:
        score = F.round(score, score_round)
    scored = cand.select(
        F.col("__lid").alias("query_id"),
        F.col("__rid").alias("match_id"),
        score.alias("score"),
    )
    return _topk_by_query(scored, k)


# ------------------------------------------------------- scalar quantization
#
# int8 scalar-quantized ANN: fit per-dimension [min, max] over the corpus
# once (a bounded-output aggregation — dim rows), store codes instead of
# floats, answer queries with an exact-integer coarse pass over the codes
# and an exact float rescore over only the surviving candidates. The
# 100 TB shape: the coarse scan reads 1-byte codes (4x fewer bytes than
# float32, 8x fewer than double) and its arithmetic is integer — exactly
# reproducible across engines/platforms — while float work is deferred to
# |queries| x (k x refine) candidate rows.


def fit_scalar_quantizer(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension quantization stats: ``(pos int, mn double, span
    double)``, one row per dimension. A persistable build-once artifact
    (store next to the ANN index; re-fit only on corpus drift). The
    aggregation output is bounded by the embedding dim, and min/max are
    order-independent — the fit is exactly reproducible at any scale."""
    ex = corpus.select(F.posexplode(vec_col).alias("pos", "__x"))
    return ex.groupBy("pos").agg(
        F.min("__x").cast("double").alias("mn"),
        (F.max("__x").cast("double") - F.min("__x").cast("double")).alias("span"),
    )


def _packed_quantizer(quant: DataFrame) -> DataFrame:
    """Fold the per-dim stats into ONE row ``(__ck=0, __mn array<double>,
    __span array<double>)`` — computed inside Spark (no driver collect),
    broadcast at use sites. Same broadcast-relation pattern as
    :func:`_with_cell_ranks`: stats ride as data, not plan literals, so
    plan size stays flat in dim."""
    packed = quant.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct("pos", "mn", "span"))
        ).alias("__q")
    )
    # Key derived from a NULLABLE data access (first element's pos — array
    # indexing is nullable, so `x*0` cannot fold to 0) so BOTH join sides
    # keep a live equi key and Catalyst plans a BroadcastHashJoin, not a
    # nested loop. `size(__q)*0` is NOT enough here: collect_list output
    # is provably non-null, so the optimizer folds it to a constant and
    # degenerates the join (verified in the r7 plan gate).
    return packed.select(
        F.coalesce(F.col("__q")[0]["pos"] * 0, F.lit(0)).alias("__ck"),
        F.transform("__q", lambda s: s.getField("mn")).alias("__mn"),
        F.transform("__q", lambda s: s.getField("span")).alias("__span"),
    )


def quantize_codes(
    df: DataFrame,
    quant: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "codes",
    bits: int = 8,
) -> DataFrame:
    """Attach ``out_col`` = per-dimension scalar-quantized codes
    (``array<int>``, values in ``[0, 2^bits - 1]``): ``floor((x - mn) /
    span * levels)`` clamped, computed in double — IEEE-elementwise, so a
    numpy model with the same expression is bit-identical. A zero-span
    (constant) dimension codes to 0; out-of-range values (queries beyond
    the corpus fit) clamp to the edges. The stats join is a one-row
    broadcast on a constant key derived from the vector column (same
    non-foldable-key trick as :func:`_with_cell_ranks`)."""
    levels = float((1 << bits) - 1)
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    diff = F.zip_with(vecd, F.col("__mn"), lambda x, m: x - m)
    code = F.zip_with(
        diff,
        F.col("__span"),
        lambda d, s: F.when(s == 0.0, F.lit(0)).otherwise(
            F.least(
                F.greatest(F.floor(d / s * F.lit(levels)), F.lit(0).cast("long")),
                F.lit(int(levels)).cast("long"),
            ).cast("int")
        ),
    )
    # Fail fast on a mis-dimensioned frame: zip_with pads the shorter side
    # with nulls, which would silently propagate null codes → null coarse
    # scores instead of surfacing the error. assert_true rides inside the
    # output expression so column pruning can't drop the check; null
    # vectors pass through (null codes) as before.
    dim_ok = F.col(vec_col).isNull() | (
        F.size(F.col(vec_col)) == F.size(F.col("__mn"))
    )
    guard = F.assert_true(
        dim_ok,
        F.concat(
            F.lit("quantize_codes: vector length "),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(" != fitted dimension "),
            F.size(F.col("__mn")).cast("string"),
        ),
    )
    ck = F.coalesce(F.size(F.col(vec_col)) * 0, F.lit(0))
    return (
        df.withColumn("__ck", ck)
        .join(F.broadcast(_packed_quantizer(quant)), "__ck")
        .withColumn(out_col, F.when(guard.isNull(), code))
        .drop("__ck", "__mn", "__span")
    )


def _int_dot_centered(a: Column, b: Column, center: int) -> Column:
    """Exact-integer dot of centered codes: sum((a-c)*(b-c)) as long.
    Integer addition is associative — the coarse score is bit-identical
    under ANY partitioning/fold order, unlike float dot products."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - center) * (y - center)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v.cast("long"),
    )


def quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    refine: int = 4,
    bits: int = 8,
    quant: DataFrame | None = None,
    score_round: int | None = 4,
) -> DataFrame:
    """Scalar-quantized ANN top-k: ``(query_id, match_id, score, rank)``.

    Phase 1 (coarse, int8): both sides quantized with the CORPUS-fitted
    per-dim stats; candidates = top ``k x refine`` corpus rows per query
    by the exact-integer centered-code dot (match_id tie-break) via the
    map-side two-phase top-k — no window, no per-row float work, and the
    corpus-side scan touches only 1-byte-range codes. Phase 2 (rescore,
    float): only the surviving candidates join back their float vectors
    for the exact cosine, rounded to ``score_round`` before the final
    rank (score desc, match_id asc). Self-matches are excluded.

    Every stage is deterministic cross-engine: the fit is min/max, the
    codes are IEEE-double elementwise ``floor``, the coarse score is
    integer — so the candidate set (not just the final answer) is exactly
    modelable, which is how the d16 oracle verifies it. Pass a persisted
    ``quant`` (from :func:`fit_scalar_quantizer`) to skip the fit — the
    build-once/query-many path."""
    if quant is None:
        quant = fit_scalar_quantizer(corpus, vec_col)
    center = 1 << (bits - 1)
    qc = quantize_codes(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        quant, vec_col, "__qc", bits,
    ).drop(vec_col)
    cc = quantize_codes(
        corpus.select(F.col(id_col).alias("match_id"), vec_col),
        quant, vec_col, "__cc", bits,
    ).drop(vec_col)
    coarse = (
        cc.crossJoin(F.broadcast(qc))
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            _int_dot_centered(F.col("__qc"), F.col("__cc"), center)
            .cast("double")
            .alias("score"),
        )
    )
    cand = _topk_by_query(coarse, k * refine).select("query_id", "match_id")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    # candidates (|queries| x k x refine rows) + their query vectors are
    # bounded by the broadcastable-queries contract — broadcast them into
    # the corpus join so the corpus float vectors never shuffle.
    rescored = cv.join(F.broadcast(cand.join(qv, "query_id")), "match_id")
    score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    if score_round is not None:
        score = F.round(score, score_round)
    return _topk_by_query(
        rescored.select("query_id", "match_id", score.alias("score")), k
    )


def ivf_quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    refine: int = 4,
    bits: int = 8,
    seed: int = 42,
    max_train_rows: int = 100_000,
    centroids: DataFrame | list[tuple[int, list[float]]] | None = None,
    quant: DataFrame | None = None,
    score_round: int | None = 4,
) -> DataFrame:
    """IVF × scalar-quantization composed ANN top-k — the production
    layout OPERATORS_BENCH's d16 probe calls for: ``quantized_topk``'s
    all-pairs coarse scan is replaced by the IVF cell equi-join, so the
    coarse pass touches only the int8 codes of the ``nprobe`` probed
    cells per query. ``(query_id, match_id, score, rank)``.

    Phase 0 (layout): corpus rows are assigned to their max-cosine
    centroid cell (``_assign_cells``) and scalar-quantized with the
    corpus-fitted per-dim stats; the coarse-phase corpus relation carries
    ONLY ``(match_id, cell, codes)`` — 1-byte-range ints, no floats.
    Phase 1 (coarse): each query probes its ``nprobe`` top cells; the
    bounded query side (ids + probed cells + query codes) BROADCASTS into
    a cell equi-join against the code relation; candidates = top
    ``k × refine`` per query by the exact-integer centered-code dot
    (match_id tie-break, map-side two-phase top-k). Phase 2 (rescore):
    float cosine on candidates only, rounded before the final rank.

    Determinism: with explicit ``centroids`` the cell assignment is the
    same deterministic projection ``ivf_topk`` oracles against; codes and
    the integer dot are exactly modelable — so the full candidate set is
    reproducible in numpy (pyoracle.ivf_quantized_candidates) and only
    the float rescore needs the round-before-rank rule. Pass persisted
    ``centroids`` + ``quant`` artifacts for the build-once/query-many
    path (both are bounded: nlist rows / dim rows)."""
    assigned, cents = _assign_cells(
        corpus, vec_col, id_col, "match_id", nlist, seed, max_train_rows,
        centroids,
    )
    if quant is None:
        quant = fit_scalar_quantizer(corpus, vec_col)
    # coarse corpus relation: (match_id, cell, codes) — codes only
    cells = quantize_codes(
        assigned.select("match_id", "__cell", F.col("__cv").alias(vec_col)),
        quant, vec_col, "codes", bits,
    ).select(
        F.col("match_id").alias(id_col),
        F.col("__cell").alias("cell"),
        "codes",
    )
    return ivf_quantized_topk_indexed(
        queries, cells, corpus, cents, quant,
        vec_col=vec_col, id_col=id_col, k=k, nprobe=nprobe, refine=refine,
        bits=bits, score_round=score_round,
    )


def quantized_cells_assign(
    df: DataFrame,
    centroids: DataFrame | list[tuple[int, list[float]]],
    quant: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bits: int = 8,
) -> DataFrame:
    """Ingest-side projection for the composed IVF × quantized index:
    ``(id, cell, codes)`` for each incoming vector against a FIXED
    quantizer (explicit centroids + persisted per-dim stats). Pure
    per-row work — a broadcast-relation argmax for the cell and the
    stats-relation floor projection for the codes — so it runs
    identically over a static frame or a STREAMING micro-batch (the
    crawl-feed ingest shape, c15): incremental assignment arithmetic is
    byte-identical to a full rebuild."""
    if isinstance(centroids, DataFrame):
        cents = [
            (int(r["cell"]), [float(x) for x in r["center"]])
            for r in centroids.collect()
        ]
    else:
        cents = [(int(j), [float(x) for x in c]) for j, c in centroids]
    base = df.select(F.col(id_col), F.col(vec_col).alias("__cv"))
    assigned = _with_cell_ranks(
        base, cents, F.col("__cv"), "__cr"
    ).withColumn("cell", F.array_min("__cr").getField("cell")).drop("__cr")
    return quantize_codes(
        assigned.select(id_col, "cell", F.col("__cv").alias(vec_col)),
        quant, vec_col, "codes", bits,
    ).select(id_col, "cell", "codes")


def ivf_quantized_topk_indexed(
    queries: DataFrame,
    cells: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame | list[tuple[int, list[float]]],
    quant: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 4,
    refine: int = 4,
    bits: int = 8,
    score_round: int | None = 4,
) -> DataFrame:
    """Query side of the composed IVF × quantized ANN against a PREBUILT
    ``(id, cell, codes)`` relation (from :func:`quantized_cells_assign` /
    the tail of :func:`ivf_quantized_topk`, possibly persisted in a
    managed store and maintained by streaming upserts — c15). ``corpus``
    supplies the float vectors for the rescore join only; the coarse
    pass never touches it."""
    if isinstance(centroids, DataFrame):
        cents = [
            (int(r["cell"]), [float(x) for x in r["center"]])
            for r in centroids.collect()
        ]
    else:
        cents = [(int(j), [float(x) for x in c]) for j, c in centroids]
    center = 1 << (bits - 1)
    cc = cells.select(
        F.col(id_col).alias("match_id"),
        F.col("cell").alias("__cell"),
        F.col("codes").alias("__cc"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    q_ranked = _with_cell_ranks(q, cents, F.col("__qv"), "__cr")
    probes = F.slice(F.array_sort(F.col("__cr")), 1, nprobe)
    q_cells = q_ranked.withColumn("__probe", F.explode(probes)).select(
        "query_id", F.col("__probe.cell").alias("__cell")
    )
    qc = quantize_codes(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        quant, vec_col, "__qc", bits,
    ).select("query_id", "__qc")
    coarse = (
        cc.join(F.broadcast(q_cells.join(qc, "query_id")), "__cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            _int_dot_centered(F.col("__qc"), F.col("__cc"), center)
            .cast("double")
            .alias("score"),
        )
    )
    cand = _topk_by_query(coarse, k * refine).select("query_id", "match_id")
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    rescored = cv.join(F.broadcast(cand.join(q, "query_id")), "match_id")
    score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    if score_round is not None:
        score = F.round(score, score_round)
    return _topk_by_query(
        rescored.select("query_id", "match_id", score.alias("score")), k
    )


# ------------------------------------------------------ product quantization
# PQ-ADC ANN (D40): the vector is split into `m` subspaces; each subspace
# is coded against a `ksub`-entry codebook, so a corpus row's coarse
# representation is `m` small ints (m bytes at ksub<=256) instead of
# `dim` floats — 32x fewer coarse-scan bytes than float32 at
# dim=64/m=8. Queries never encode: they build an ADC (asymmetric
# distance computation) lookup table of query-subvector <-> codeword
# distances, INTEGERIZED (floor(d2 * 1e6) as long) so the coarse score
# is an exact integer sum — bit-identical under any partitioning and
# exactly modelable in the pyoracle (the same contract as d16's
# centered-code dot). Reference parity: mirrors the reference's ANN
# surface (basis-devkit patterns/vector; cf. VERDICT coverage D24-D30) —
# re-expressed as broadcast-relation joins + two-phase top-k.
#
# The codebook is a seed-vector quantizer (the first `ksub` corpus rows
# by id, sliced per subspace) — the same deterministic-fit contract as
# ivf_topk's seed-vector coarse quantizer (d03c), chosen so the FIT
# itself is exactly reproducible cross-engine; swap in per-subspace
# k-means offline for better recall (the plumbing is codebook-agnostic:
# any (sub, code, cw) relation works).


def _l2sq_col(a: Column, b: Column) -> Column:
    """Left-to-right fold of sum((a-b)^2) in double — IEEE-elementwise in
    array order, so a Python loop with the same order is bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def fit_pq_codebook(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """Deterministic PQ codebook: ``(sub int, code int, cw array<double>)``
    — ``m × ksub`` rows, a persistable build-once artifact (store next to
    the codes relation; re-fit only on corpus drift).

    Codewords for every subspace come from the first ``ksub`` corpus
    vectors in ``id_col`` order (TakeOrdered — bounded driver-free fetch),
    sliced into ``m`` equal sub-vectors; ``code`` is the vector's rank in
    that id order. min/TakeOrdered + slicing are order-independent /
    exactly reproducible, so the fit has no RNG or float-fold caveats."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    seeds = (
        corpus.select(F.col(id_col).alias("__i"), vecd.alias("__v"))
        .orderBy("__i")
        .limit(ksub)
    )
    packed = seeds.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("__i", "__v"))).alias("__s")
    )
    # ksub seed rows or the packed flat index (sub*ksub + code) used by
    # pq_encode/pq_topk would silently misalign subspaces.
    seed_guard = F.assert_true(
        F.size(F.col("__s")) == ksub,
        F.concat(
            F.lit("fit_pq_codebook: corpus has "),
            F.size(F.col("__s")).cast("string"),
            F.lit(f" seed vectors, need exactly ksub={ksub}"),
        ),
    )
    packed = packed.select(
        F.when(seed_guard.isNull(), F.col("__s")).alias("__s")
    )
    dim_ok = F.size(F.col("__fv")) % m == 0
    guard = F.assert_true(
        dim_ok,
        F.concat(
            F.lit("fit_pq_codebook: dimension "),
            F.size(F.col("__fv")).cast("string"),
            F.lit(f" not divisible by m={m}"),
        ),
    )
    subdim = (F.size(F.col("__fv")) / m).cast("int")
    return (
        packed.select(F.posexplode("__s").alias("code", "__sv"))
        .select("code", F.col("__sv.__v").alias("__fv"))
        .withColumn("sub", F.explode(F.sequence(F.lit(0), F.lit(m - 1))))
        .select(
            "sub",
            "code",
            F.when(
                guard.isNull(), F.slice(F.col("__fv"), F.col("sub") * subdim + 1, subdim)
            ).alias("cw"),
        )
    )


def _packed_pq(codebook: DataFrame) -> DataFrame:
    """Fold the codebook into ONE broadcastable row ``(__ck=0, __cb =
    array<array<double>> ordered by (sub, code) — flat index sub*ksub +
    code)``. Codewords ride as relation data, not plan literals, so plan
    size stays flat in m × ksub (the same contract as
    :func:`_packed_quantizer`); the join key is derived from a nullable
    data access so Catalyst keeps a live equi key (BroadcastHashJoin,
    never a degenerate nested loop)."""
    packed = codebook.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("sub", "code", "cw"))).alias("__q")
    )
    return packed.select(
        F.coalesce(F.col("__q")[0]["sub"] * 0, F.lit(0)).alias("__ck"),
        F.transform("__q", lambda s: s.getField("cw")).alias("__cb"),
    )


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    m: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """Attach ``out_col`` = PQ codes (``array<int>`` of length ``m``):
    per subspace, the argmin-L2 codeword index (first/lowest code wins
    ties). All arithmetic is IEEE double in fixed array order — the
    numpy/Python model reproduces codes exactly. The codebook attaches
    via a one-row broadcast hash join; encoding is a pure projection
    (no shuffle of ``df``)."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    subdim = F.size(F.element_at(F.col("__cb"), 1))
    dim_ok = F.col(vec_col).isNull() | (F.size(F.col(vec_col)) == subdim * m)
    guard = F.assert_true(
        dim_ok,
        F.concat(
            F.lit("pq_encode: vector length "),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(" != fitted dimension "),
            (subdim * m).cast("string"),
        ),
    )
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: (
            F.array_position(
                F.transform(
                    F.sequence(F.lit(0), F.lit(ksub - 1)),
                    lambda c: _l2sq_col(
                        F.slice(vecd, s * subdim + 1, subdim),
                        F.element_at(F.col("__cb"), s * ksub + c + 1),
                    ),
                ),
                F.array_min(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(ksub - 1)),
                        lambda c: _l2sq_col(
                            F.slice(vecd, s * subdim + 1, subdim),
                            F.element_at(F.col("__cb"), s * ksub + c + 1),
                        ),
                    )
                ),
            )
            - 1
        ).cast("int"),
    )
    ck = F.coalesce(F.size(F.col(vec_col)) * 0, F.lit(0))
    out = F.when(
        guard.isNull() & F.col(vec_col).isNotNull(), codes
    )  # null vector -> null codes (not an array of nulls)
    return (
        df.withColumn("__ck", ck)
        .join(F.broadcast(_packed_pq(codebook)), "__ck")
        .withColumn(out_col, out)
        .drop("__ck", "__cb")
    )


_PQ_LUT_SCALE = 1_000_000.0


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    refine: int = 4,
    codebook: DataFrame | None = None,
    codes: DataFrame | None = None,
    score_round: int | None = 4,
) -> DataFrame:
    """PQ-ADC ANN top-k: ``(query_id, match_id, score, rank)``.

    Phase 1 (coarse, integer ADC): the corpus rides as ``m`` small-int
    codes; each query broadcasts its integerized LUT (``m × ksub`` longs:
    ``floor(l2²(query_sub, codeword) · 1e6)``) and the coarse distance is
    the exact-integer sum of ``m`` LUT hits — no per-row float work, no
    square roots, bit-identical under any partitioning. Candidates = top
    ``k × refine`` per query by (distance asc, match_id asc) via the
    map-side two-phase top-k. Phase 2: float cosine rescore on candidates
    only, rounded to ``score_round`` before the final rank. Self-matches
    excluded.

    Pass persisted ``codebook`` (from :func:`fit_pq_codebook`) and/or
    ``codes`` (``(id_col, pq_codes)`` from :func:`pq_encode`) for the
    build-once/query-many path — the 100 TB layout stores codes beside
    the vectors and re-reads only the ``m``-byte codes on the coarse
    scan (dim×4 → m bytes, 32× fewer at dim=64/m=8)."""
    if codebook is None:
        codebook = fit_pq_codebook(corpus, vec_col, id_col, m, ksub)
    if codes is None:
        codes = pq_encode(
            corpus.select(F.col(id_col), vec_col), codebook, vec_col, "pq_codes",
            m, ksub,
        ).select(id_col, "pq_codes")
    cc = codes.select(
        F.col(id_col).alias("match_id"), F.col("pq_codes").alias("__cc")
    )
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    subdim = F.size(F.element_at(F.col("__cb"), 1))
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(m * ksub - 1)),
        lambda i: F.floor(
            _l2sq_col(
                F.slice(
                    vecd,
                    F.floor(i / F.lit(ksub)).cast("int") * subdim + 1,
                    subdim,
                ),
                F.element_at(F.col("__cb"), i + 1),
            )
            * F.lit(_PQ_LUT_SCALE)
        ).cast("long"),
    )
    ck = F.coalesce(F.size(F.col(vec_col)) * 0, F.lit(0))
    ql = (
        queries.select(F.col(id_col).alias("query_id"), vec_col)
        .withColumn("__ck", ck)
        .join(F.broadcast(_packed_pq(codebook)), "__ck")
        .select("query_id", lut.alias("__lut"))
    )
    hits = F.transform(
        F.col("__cc"),
        lambda c, s: F.element_at(F.col("__lut"), s * F.lit(ksub) + c + 1),
    )
    dist = F.aggregate(hits, F.lit(0).cast("long"), lambda acc, v: acc + v)
    coarse = (
        cc.crossJoin(F.broadcast(ql))
        .filter(F.col("query_id") != F.col("match_id"))
        .select("query_id", "match_id", (-dist).cast("double").alias("score"))
    )
    cand = _topk_by_query(coarse, k * refine).select("query_id", "match_id")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    rescored = cv.join(F.broadcast(cand.join(qv, "query_id")), "match_id")
    score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    if score_round is not None:
        score = F.round(score, score_round)
    return _topk_by_query(
        rescored.select("query_id", "match_id", score.alias("score")), k
    )


def jl_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    refine: int = 4,
    out_dim: int = 16,
    seed: int = 42,
    score_round: int | None = 4,
) -> DataFrame:
    """JL-coarse ANN top-k: ``(query_id, match_id, score, rank)``.

    Phase 1 (coarse): both sides pass through :func:`jl_project`'s
    exact-integer Johnson–Lindenstrauss projection (64-d floats → 16
    longs at scale 10⁹ — a pure expression, NO fit artifact: the matrix
    is a hash function), then downscale to int codes by ARITHMETIC SHIFT
    ``>> 7`` (floor division by 128 — bit-identical in Python, so the
    candidate set stays exactly modelable; a plain ``/100`` double
    division could flip truncation at representation boundaries).
    Candidates = top ``k × refine`` corpus rows per query by the exact
    int64 dot of the codes (match_id tie-break), via the map-side
    two-phase top-k — no window, no float op. Phase 2 (rescore, float):
    candidates join back their float vectors for the exact cosine,
    rounded before the final rank. Self-matches excluded.

    vs :func:`quantized_topk` (d16): no corpus-wide stats fit at all —
    the projection is stateless, so streaming ingest needs no artifact
    maintenance — and the coarse scan reads 16 ints (64 B) per row vs
    the 64-float (256 B) vectors: a 4× coarse-byte cut on a different
    axis than int8 (fewer DIMENSIONS, not narrower cells); the two
    compose. Overflow rails: the coarse score stays LONG through the
    top-k (no float op, no double cast anywhere in phase 1 — so no 2⁵³
    exactness cliff), and |code| is guarded < isqrt(2⁶²/out_dim)
    (2²⁹ at out_dim=16), which bounds the ``out_dim``-term dot < 2⁶² —
    int64-safe with 2× headroom."""
    from basis_devkit_spark.operators.embeddings import jl_project

    import math as _math

    # also capped at 2^31 so the int32 code storage below never wraps
    code_cap = min(_math.isqrt((1 << 62) // max(out_dim, 1)), 1 << 31)

    def codes(df: DataFrame, out_id: str, col: str) -> DataFrame:
        p = jl_project(
            df.select(F.col(id_col).alias(out_id), vec_col),
            vec_col,
            "__jl",
            out_dim,
            seed,
        )
        guard = F.assert_true(
            F.forall(
                F.col("__jl"),
                lambda c: F.abs(F.shiftright(c, 7)) < F.lit(code_cap),
            ),
            F.lit(
                "jl_topk: downscaled JL code exceeds the int64 dot-safety "
                f"bound isqrt(2^62/out_dim)={code_cap}"
            ),
        )
        code = F.transform(
            F.col("__jl"), lambda c: F.shiftright(c, 7).cast("int")
        )
        return p.select(
            out_id, F.when(guard.isNull(), code).alias(col)
        )

    qc = codes(queries, "query_id", "__qj")
    cc = codes(corpus, "match_id", "__cj")
    dot = lambda a, b: F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    coarse = (
        cc.crossJoin(F.broadcast(qc))
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            dot(F.col("__qj"), F.col("__cj")).alias("score"),
        )
    )
    cand = _topk_by_query(coarse, k * refine).select("query_id", "match_id")
    qv = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"))
    cv = corpus.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv"))
    rescored = cv.join(F.broadcast(cand.join(qv, "query_id")), "match_id")
    score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    if score_round is not None:
        score = F.round(score, score_round)
    return _topk_by_query(
        rescored.select("query_id", "match_id", score.alias("score")), k
    )


def jl_ivf_quantized_topk(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    out_dim: int = 16,
    jl_seed: int = 42,
    nlist: int = 16,
    nprobe: int = 4,
    refine: int = 4,
    bits: int = 8,
    centroids: list[tuple[int, list[float]]] | None = None,
    quant: DataFrame | None = None,
    score_round: int | None = 4,
) -> DataFrame:
    """JL × IVF × int8 composed ANN top-k — d46's dimension cut grafted
    onto d20's persisted index layout, the two byte reductions
    composing: the coarse pass touches ``out_dim`` int8 codes per corpus
    row (16 B at out_dim=16) instead of d20's ``dim`` codes (64 B) or
    the raw ``dim`` float32s (256 B) — a 16× coarse-byte cut total, on
    two independent axes (fewer DIMENSIONS × narrower CELLS).

    Phase 0 (layout): both sides pass through :func:`jl_project`'s
    exact-integer JL projection; the 16-d double views (exactly
    ``long/1e9`` — deterministic cross-engine) get the standard IVF
    treatment IN THE REDUCED SPACE: max-cosine cell assignment against
    ``nlist`` seed-vector centroids (default: the reduced vectors of the
    ``nlist`` smallest-id corpus rows — fully modelable) and the
    corpus-fitted per-dim [min,max] int8 codes. Phase 1 (coarse): each
    query probes its ``nprobe`` top reduced-space cells; bounded query
    side broadcasts into the cell equi-join; candidates = top
    ``k × refine`` by the exact-integer centered-code dot. Phase 2:
    float cosine rescore on the ORIGINAL full-dimension vectors —
    recall costs of the reduced coarse space never reach the final
    scores. Self-matches excluded.

    Determinism: JL longs are exact integers, ``long/1e9`` is one IEEE
    op, cell cosines reuse the proven d03c fold contract, codes are
    IEEE-elementwise floor, the coarse dot is integer — the full
    candidate set is exactly modelable (pyoracle.jl_ivf_candidates),
    only the rescore needs the round-before-rank rule. Pass persisted
    ``centroids``/``quant`` (both bounded: nlist rows / out_dim rows)
    for the build-once/query-many path.

    **When to choose d38 vs d20 vs d29 — measured guidance**
    (recall@5 vs exact brute force, nlist=8, nprobe=4, 64-d corpus;
    structured = 16 Gaussian centers + σ=0.25 noise):

    ========================  =========================  ==============
    fixture                   d38 (out_dim=16)           d20 (no JL)
    ========================  =========================  ==============
    16 planted clusters       0.747 @ refine=16,         0.840 / 0.993
    (intrinsic dim ≈ 16 —     **0.993 @ refine=32**      @ refine=16/32
    real-corpus shape)
    i.i.d. random (worst      0.540 @ refine=16,         0.700 (refine-
    case: no structure)       0.727 @ refine=32          insensitive)
    ========================  =========================  ==============

    Rule of thumb: choose d38 when the corpus has LOW INTRINSIC
    DIMENSION (clustered/manifold real embeddings) and coarse-scan
    bytes dominate — set ``out_dim`` ≥ the intrinsic dimension (16 for
    typical topic/language cluster structure) and ``refine`` ≈ 2× what
    d20 needs; at those defaults d38 matched d20's 0.993 recall at 1/4
    the coarse bytes. Choose d20 when vectors are near-isotropic (JL
    to 16-d then discards real neighbor information — recall caps well
    below d20 at any refine) or when ``dim`` is already small. Choose
    d29 (PQ) when even int8-per-dim coarse bytes are too wide and a
    trained codebook is acceptable. Recall floor gated on the
    structured fixture in
    ``test_jl_ivf_topk_recall_on_structured_fixture`` (≥0.9 at the
    guidance defaults)."""
    from basis_devkit_spark.operators.embeddings import jl_project

    def reduced(df: DataFrame, out_id: str) -> DataFrame:
        # localCheckpoint: phase 0 MATERIALIZES the reduced relation
        # (out_dim doubles/row — the small artifact a production build
        # persists; c15 maintains it under ingest). Without it every
        # downstream reference (nlist cell cosines + quant fit + codes)
        # re-evaluates the interpreted JL fold per row — measured 50 s
        # vs ~8 s on the sf0.01 corpus.
        return jl_project(
            df.select(F.col(id_col).alias(out_id), vec_col),
            vec_col, "__jlr", out_dim, jl_seed,
        ).select(
            out_id, F.col("__jlr_f").alias("__rv")
        ).localCheckpoint(eager=False)

    cr = reduced(corpus, "match_id")
    if centroids is None:
        cent_rows = cr.select("match_id", "__rv").orderBy("match_id").limit(
            nlist
        ).collect()  # bounded: nlist rows
        centroids = [
            (i, [float(x) for x in r["__rv"]])
            for i, r in enumerate(cent_rows)
        ]
    if quant is None:
        quant = fit_scalar_quantizer(cr, "__rv")
    assigned = _with_cell_ranks(
        cr.select("match_id", "__rv"), centroids, F.col("__rv"), "__cr"
    ).withColumn("__cell", F.array_min("__cr").getField("cell")).drop("__cr")
    cells = quantize_codes(
        assigned, quant, "__rv", "codes", bits
    ).select(
        F.col("match_id").alias(id_col),
        F.col("__cell").alias("cell"),
        "codes",
    )
    return jl_ivf_quantized_topk_indexed(
        queries, cells, corpus, centroids, quant,
        vec_col=vec_col, id_col=id_col, k=k, out_dim=out_dim,
        jl_seed=jl_seed, nprobe=nprobe, refine=refine, bits=bits,
        score_round=score_round,
    )


def jl_quantized_cells_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    quant: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    out_dim: int = 16,
    jl_seed: int = 42,
    bits: int = 8,
) -> DataFrame:
    """Ingest-side projection for the JL-composed index (d38's phase 0
    against FIXED artifacts): ``(id, cell, codes)`` for each incoming
    vector — the stateless JL projection chained into
    :func:`quantized_cells_assign` over the reduced view. Pure per-row
    work (the JL "matrix" is a hash function; cell + codes are
    broadcast-relation projections), so it runs identically over a
    static frame or a STREAMING micro-batch (c20), and incremental
    assignment arithmetic is byte-identical to a full rebuild. NOTE:
    being a pure projection, the JL fold is re-evaluated per reference
    inside the cell/code expressions — fine at micro-batch row counts;
    a bulk REBUILD should go through :func:`jl_ivf_quantized_topk`'s
    materialized phase 0 instead."""
    from basis_devkit_spark.operators.embeddings import jl_project

    r = jl_project(df, vec_col, "__jlr", out_dim, jl_seed)
    return quantized_cells_assign(
        r.select(id_col, "__jlr_f"), centroids, quant, "__jlr_f", id_col, bits
    )


def jl_ivf_quantized_topk_indexed(
    queries: DataFrame,
    cells: DataFrame,
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    quant: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    out_dim: int = 16,
    jl_seed: int = 42,
    nprobe: int = 4,
    refine: int = 4,
    bits: int = 8,
    score_round: int | None = 4,
) -> DataFrame:
    """Query side of the JL-composed index against a PREBUILT
    ``(id, cell, codes)`` relation (from the tail of
    :func:`jl_ivf_quantized_topk` or :func:`jl_quantized_cells_assign`,
    possibly persisted and maintained by streaming upserts — c20).
    ``corpus`` supplies the ORIGINAL full-dimension float vectors for
    the rescore join only; the coarse pass never touches it."""
    from basis_devkit_spark.operators.embeddings import jl_project

    qr = jl_project(
        queries.select(F.col(id_col).alias("query_id"), vec_col),
        vec_col, "__jlr", out_dim, jl_seed,
    ).select("query_id", F.col("__jlr_f").alias("__rv")).localCheckpoint(
        eager=False
    )  # bounded query side — materialize the reduced view once
    cc = cells.select(
        F.col(id_col).alias("match_id"),
        F.col("cell").alias("__cell"),
        F.col("codes").alias("__cc"),
    )
    q_ranked = _with_cell_ranks(
        qr.select("query_id", "__rv"), centroids, F.col("__rv"), "__cr"
    )
    probes = F.slice(F.array_sort(F.col("__cr")), 1, nprobe)
    q_cells = q_ranked.withColumn("__probe", F.explode(probes)).select(
        "query_id", F.col("__probe.cell").alias("__cell")
    )
    qc = quantize_codes(
        qr.select("query_id", "__rv"), quant, "__rv", "__qc", bits
    ).select("query_id", "__qc")
    center = 1 << (bits - 1)
    coarse = (
        cc.join(F.broadcast(q_cells.join(qc, "query_id")), "__cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id",
            "match_id",
            _int_dot_centered(F.col("__qc"), F.col("__cc"), center)
            .cast("double")
            .alias("score"),
        )
    )
    cand = _topk_by_query(coarse, k * refine).select("query_id", "match_id")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("match_id"), F.col(vec_col).alias("__cv")
    )
    rescored = cv.join(F.broadcast(cand.join(qv, "query_id")), "match_id")
    score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    if score_round is not None:
        score = F.round(score, score_round)
    return _topk_by_query(
        rescored.select("query_id", "match_id", score.alias("score")), k
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    match_col: str = "match_id",
    k: int | None = None,
    rate_round: int = 6,
) -> DataFrame:
    """Recall@k report — the eval verb behind every ANN tuning
    decision (nprobe, refine, out_dim, codebook size): per query, the
    fraction of the EXACT top-k this approximate result recovered.
    Returns ``(query_id, n_truth, n_hit, recall)`` for every query in
    ``exact``; queries the approximate side missed entirely report 0.0
    (a LEFT join — an eval that silently drops empty-result queries
    overstates recall).

    Both inputs are ``(query_id, match_id[, rank, ...])`` relations
    (any ``*_topk`` operator output, or a store-read result); ``k``
    truncates BOTH sides by their ``rank`` column when given. Shape:
    one equi-join on (query, match) + one per-query hash aggregate —
    distributed, so the eval runs at full corpus/query scale instead
    of the driver-side sampling a probe script does. Recall is
    floor-scaled at 10^-``rate_round`` with integer numerators."""
    a = approx.select(
        F.col(query_col).alias("__q"), F.col(match_col).alias("__m"),
        *([F.col("rank").alias("__ar")] if k is not None else []),
    )
    e = exact.select(
        F.col(query_col).alias("__q"), F.col(match_col).alias("__m"),
        *([F.col("rank").alias("__er")] if k is not None else []),
    )
    if k is not None:
        a = a.filter(F.col("__ar") <= k).drop("__ar")
        e = e.filter(F.col("__er") <= k).drop("__er")
    hit = e.join(
        a.withColumn("__hit", F.lit(1)).dropDuplicates(["__q", "__m"]),
        ["__q", "__m"],
        "left",
    )
    scale = float(10 ** rate_round)
    return (
        hit.groupBy("__q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_truth"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            F.col("__q").alias(query_col),
            "n_truth",
            "n_hit",
            (
                F.floor(
                    F.col("n_hit").cast("double")
                    / F.col("n_truth").cast("double")
                    * scale
                    + 0.5
                )
                / scale
            ).alias("recall"),
        )
    )


def hard_negative_mine(
    queries: DataFrame,
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    k: int = 5,
    metric: str = "cosine",
    score_round: int | None = 6,
    min_score: float | None = None,
) -> DataFrame:
    """Hard-negative mining for retrieval/classifier training: for each
    query vector, the top-``k`` most-similar corpus vectors whose label
    DIFFERS from the query's — the near-misses that teach a contrastive
    model its decision boundary (random negatives are trivially easy;
    the informative ones are the closest wrong answers). Output
    ``(query_id, query_label, match_id, match_label, score, rank)``;
    optional ``min_score`` keeps only negatives at least that hard.

    Pairs where EITHER label is NULL are excluded — an unlabeled
    neighbor cannot be certified a negative; surface unlabeled data
    through d03's plain top-k instead. ``score_round`` rounds scores
    BEFORE ranking (the ann_join cross-engine contract).

    Scale shape: queries broadcast (the brute_force_topk contract —
    mine in query batches of ≤ ~10^5), the corpus streams once, and
    ranking is the two-phase bounded ``_topk_by_query`` merge — never
    a per-query window over corpus-cardinality rows. The label joins
    touch only the |queries| × k result relation (broadcast). For
    corpus-×-corpus mining at 100 TB, run this per IVF cell (d24's
    ann_join composition) with the same label filter.
    """
    q = queries.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("query_label"),
    )
    c = corpus.filter(
        F.col(label_col).isNotNull() & F.col(vec_col).isNotNull()
    ).select(
        F.col(id_col).alias("match_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("match_label"),
    )
    joined = c.crossJoin(
        F.broadcast(q.select("query_id", "__qv", "query_label"))
    ).filter(
        (F.col("query_id") != F.col("match_id"))
        & (F.col("query_label") != F.col("match_label"))
    )
    if metric == "cosine":
        score = cosine_similarity_col(F.col("__qv"), F.col("__cv"))
    elif metric == "dot":
        score = _dot(
            F.transform("__qv", lambda x: x.cast("double")),
            F.transform("__cv", lambda x: x.cast("double")),
        )
    else:
        raise ValueError(f"unknown metric {metric}")
    if score_round is not None:
        score = F.round(score, score_round)
    scored = joined.select(
        "query_id", "match_id", "match_label", score.alias("score")
    )
    if min_score is not None:
        scored = scored.filter(F.col("score") >= F.lit(float(min_score)))
    # match_label rides the top-k structs as payload — no second corpus
    # pass to recover it; the only join after ranking is the broadcast
    # |queries|-sized query_label attach
    topk = _topk_by_query(scored, k, extra_cols=("match_label",))
    out = topk.join(
        F.broadcast(q.select("query_id", "query_label")), "query_id"
    )
    return out.select(
        "query_id", "query_label", "match_id", "match_label",
        "score", "rank",
    )
