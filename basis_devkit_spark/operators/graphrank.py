"""Link-analysis ranking over edge relations — fixed-point integer
PageRank (the domain-authority signal pretraining pipelines use to
weight crawl sources, à la CommonCrawl seed ranking).

Standard float PageRank is NOT cross-engine reproducible: each
iteration sums float contributions whose reduction order differs by
partitioning. This implementation keeps every rank as an exact scaled
INTEGER (``R_i ≈ rank_i × scale``):

- out-contribution  ``R_i div outdeg_i``     (integer floor division)
- damping           ``(x × 17) div 20``      for d = 0.85 (exact ints)
- teleport base     ``((scale × 3) div 20) div N``
- dangling mass     summed exactly, redistributed ``div N``

Integer sums are associative — every iteration is bit-identical under
any partitioning and any engine, so the full 10-iteration ranking
exact-hash oracles against an independent Python model (d28). The
final ``rank = R / scale`` is one double division per node, rounded.

Scale shape: the distinct edge relation is hash-partitioned by ``src``
once and persisted (no round re-shuffles it or re-evaluates the
caller's edge-construction lineage), the out-degree is folded into a
persisted node-state relation once (no per-round ranks ⋈ outdeg join),
and each iteration is one node-sized contribution join + one
groupBy(dst) integer sum — no windows, no collect of per-node state.
Each round is ONE job: the rank state is lazily checkpointed and the
bounded dangling-mass collect (a single scalar) materializes it; the
scalar enters the next round's plan as a literal (no per-round
broadcast/cross-join), superseded checkpoint blocks are released, and
the caches are dropped once the final checkpoint truncates lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lineage import release_plan_blocks


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    scale: int = 10**12,
    rank_round: int = 9,
    raw_scaled: bool = False,
) -> DataFrame:
    """``(node, rank)`` after ``iters`` exact-integer PageRank rounds
    with damping 0.85 over the DISTINCT edge set. Dangling-node mass is
    redistributed uniformly. ``rank`` sums to ~1 over nodes.

    ``raw_scaled=True`` returns ``(node, rank_scaled: long)`` — the
    exact integer state itself, NO float op anywhere. This is the
    oracle-grade output: the rounded-double form can land exactly on a
    0.5·10^-rank_round boundary (ranks are rationals), where Python's
    banker's rounding and Spark/DuckDB's half-away-from-zero disagree —
    observed once in 16k rows at sf0.1."""
    from pyspark import StorageLevel

    spark = edges.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # ONE-TIME layout (the kcore lesson): the distinct edge relation
    # feeds EVERY round's contribution join — hash-partition it by
    # ``src`` once and persist. Without this (a) the caller's edge-
    # construction lineage (for d86 a corpus-wide pair explode, for d28
    # orders ⋈ lineitem) re-evaluates once per round, and (b) each round
    # pays a full edge shuffle because the checkpoint-derived ranks side
    # has unknown stats (never broadcast, never recognised as small).
    # With the layout pinned, only node-sized rank state moves per round.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition(nshuf, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Static per-node state (node, outdeg), persisted: folding the
    # degree into the rank relation removes the per-round ranks ⋈ outdeg
    # join the previous shape paid (one shuffle join per round).
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    state = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(outdeg, "node", "left")
        .repartition(nshuf, "node")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = state.count()
    if n == 0:
        out = state.select("node").withColumn("rank", F.lit(0.0))
        out = out.localCheckpoint(eager=True)
        e.unpersist(False)
        state.unpersist(False)
        return out
    base = ((scale * 3) // 20) // n  # (1-d)·scale / N in exact ints
    ranks = state.withColumn("__r", F.lit(scale // n).cast("long"))
    prev_ckpt: DataFrame | None = None
    for it in range(iters):
        # ONE job per round (the bpe-fit fusion shape, r14): lazily
        # checkpoint the incoming rank state, then the BOUNDED
        # dangling-mass collect (one scalar) materializes it. The scalar
        # rides back to the driver and enters the round's plan as a
        # LITERAL, so (a) the per-round BroadcastNestedLoopJoin +
        # broadcast exchange the previous shape paid for ``__dm`` is
        # gone, and (b) the round's plan consumes the materialized
        # checkpoint ONCE (the contribution join) — the dangling
        # aggregate reads the same materialized blocks up front, not a
        # second evaluation of the lineage. Previous shape: eager
        # checkpoint job + broadcast materialization per round (~2 job
        # dispatches); now: one count-sized collect per round.
        ck = ranks.localCheckpoint(eager=False)
        dm = int(
            ck.filter(F.col("__deg").isNull())
            .agg(F.coalesce(F.sum("__r"), F.lit(0)).cast("long").alias("__dm"))
            .collect()[0]["__dm"]
        )
        if prev_ckpt is not None:
            release_plan_blocks(prev_ckpt)
        prev_ckpt = ck
        # shuffle_hash hints: both per-round joins are node-sized on the
        # build side against an already-partitioned probe side — without
        # the hint the planner picks SortMergeJoin (checkpoint-derived
        # stats are unknown) and re-SORTS the persisted edge relation
        # every round (guide §3.1: prefer hash when the build side fits).
        live = ck.filter(F.col("__deg").isNotNull()).hint("shuffle_hash")
        contrib = (
            live.join(e, live["node"] == e["src"])
            .select(
                F.col("dst").alias("node2"),
                F.expr("__r div __deg").cast("long").alias("__c"),
            )
            .groupBy("node2")
            .agg(F.sum("__c").cast("long").alias("__in"))
            .hint("shuffle_hash")
        )
        # dm ≥ 0 (ranks are non-negative) and n ≥ 1, so Python ``//``
        # here equals the previous in-plan ``__dm div {n}`` exactly
        # (both truncate for non-negative operands) — bit-identical
        # integer semantics, oracle-confirmed (d28/d86/c18).
        ranks = (
            state.join(contrib, state["node"] == contrib["node2"], "left")
            .select(
                "node",
                "__deg",
                (
                    F.lit(base).cast("long")
                    + F.expr(
                        f"((coalesce(__in, 0) + {dm // n}) * 17) div 20"
                    ).cast("long")
                ).alias("__r"),
            )
        )
    # The last round's plan is still lazy: one final eager checkpoint
    # truncates lineage for the returned frame (same contract as before
    # — callers receive a checkpoint-backed node-sized relation).
    ranks = ranks.localCheckpoint(eager=True)
    if prev_ckpt is not None:
        release_plan_blocks(prev_ckpt)
    # The final checkpoint truncated lineage — the edge and node-state
    # caches are no longer read by the returned frame; release them now
    # instead of pinning edge-sized blocks until session teardown.
    e.unpersist(False)
    state.unpersist(False)
    if raw_scaled:
        return ranks.select("node", F.col("__r").alias("rank_scaled"))
    return ranks.select(
        "node",
        F.round(F.col("__r").cast("double") / F.lit(float(scale)), rank_round).alias(
            "rank"
        ),
    )


def _canonical_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Canonical undirected edge relation ``(a < b)``: self-loops
    dropped, duplicates and reversed pairs collapsed. PERSISTED — it
    feeds four consumers downstream (degree agg, two orientation
    joins, the closing-edge probe); without the cache Spark recomputes
    the caller's edge-construction lineage (for a co-occurrence graph,
    a corpus self-join) once per consumer (measured 3.5× end-to-end at
    sf0.1). Edge-sized, session-scoped, LRU-evictable."""
    from pyspark import StorageLevel

    return (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _degrees(und: DataFrame) -> DataFrame:
    return (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def _per_node_triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("__da"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("__db"))
    ka = F.struct(F.col("__da").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("__db").alias("d"), F.col("b").alias("i"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
        # adjacency build + both edge-join sides read it
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # compact-forward: for each ORIENTED edge (u, v), every
    # w ∈ N⁺(u) ∩ N⁺(v) closes exactly one triangle (u < v < w in the
    # orientation order, so each is found once). The adjacency arrays
    # are bounded at O(√m) by the orientation, the two joins shuffle
    # edge+adjacency bytes, and the explode emits ONE row per triangle
    # — versus materializing every open wedge (Σ outdeg², ~100× the
    # triangle count on co-occurrence graphs) through a shuffle and
    # discarding the misses in a second join.
    adj = oriented.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("__nbrs")
    )
    # Per-edge closing set, then ONE contribution explode: (u, |ws|),
    # (v, |ws|) and (w, 1) per closing node — same multiset of corner
    # counts as emitting every (u,v,w) triangle row, but the join
    # pipeline evaluates once (the previous 3-way union of u/v/w
    # selects re-ran the two adjacency joins three times) and the
    # aggregate shuffles 2E+T contribution rows instead of 3T
    # triangle corners.
    edge_tris = (
        oriented.join(
            adj.select(F.col("u"), F.col("__nbrs").alias("__nu")), "u"
        )
        .join(
            adj.select(
                F.col("u").alias("v"), F.col("__nbrs").alias("__nv")
            ),
            "v",
        )
        .select(
            "u", "v", F.array_intersect("__nu", "__nv").alias("__ws")
        )
        .filter(F.size("__ws") > 0)
    )
    contrib = edge_tris.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("u").alias("node"),
                        F.size("__ws").cast("long").alias("c"),
                    ),
                    F.struct(
                        F.col("v").alias("node"),
                        F.size("__ws").cast("long").alias("c"),
                    ),
                ),
                F.transform(
                    F.col("__ws"),
                    lambda w: F.struct(
                        w.alias("node"), F.lit(1).cast("long").alias("c")
                    ),
                ),
            )
        ).alias("e")
    ).select(F.col("e.node").alias("node"), F.col("e.c").alias("c"))
    per_node = contrib.groupBy("node").agg(
        F.sum("c").alias("n_triangles")
    )
    out = (
        deg.select("node")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
        )
    )
    out._bds_oriented = oriented  # type: ignore[attr-defined]
    return out


def triangle_count(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts over an undirected edge relation — the
    dedup-QA diagnostic for near-duplicate graphs: a true duplicate
    CLUSTER is near-clique (every member sits in many triangles), while
    a chain of borderline LSH false positives has none, so triangle
    participation separates "real duplicate group" from "threshold
    artifact" before a keep-one collapse trusts the clusters. Returns
    ``(node, n_triangles)`` for every node of the edge relation
    (0 for triangle-free nodes).

    Scale shape — the standard degree-orientation algorithm (public;
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW 2011): orient every undirected edge from the
    lower to the higher endpoint in ``(degree, id)`` order, so each
    triangle is counted exactly once and every node's ORIENTED
    out-degree is O(√m) whatever its raw degree — the hub that makes
    the naive wedge join quadratic gets its wedges charged to its
    (low-degree) neighbors instead. Three hash joins + hash aggs on
    node/edge keys, no windows, no driver-side state; the canonical
    and oriented relations are persisted (multi-consumer — see
    ``_canonical_edges``)."""
    und = _canonical_edges(edges, src, dst)
    out = _per_node_triangles(und, _degrees(und))
    # session-scoped caches ride the result (the minhash _bds_cached
    # convention): callers that materialize the (small) result can
    # release them via dedup.release_signature_caches(out)
    out._bds_cached = [und, out._bds_oriented]  # type: ignore[attr-defined]
    del out._bds_oriented  # type: ignore[attr-defined]
    return out


def clustering_coefficient(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    coeff_round: int = 6,
) -> DataFrame:
    """Local clustering coefficient per node: ``2·T / (d·(d−1))`` with
    ``T`` the node's triangle count and ``d`` its degree in the
    canonicalized undirected graph — 1.0 inside a clique, → 0 on
    chains/stars. The per-node companion to :func:`triangle_count` for
    dedup-cluster QA (a "cluster" whose members have low coefficients
    is a threshold artifact, not a duplicate group). Degree-1 nodes
    report 0.0. Coefficients are ``floor(x·10^round + 0.5)/10^round``
    with integer numerators — identical doubles cross-engine.

    Cost: exactly :func:`triangle_count` plus one node-keyed join —
    the canonical relation and the degree aggregate are shared, not
    recomputed."""
    und = _canonical_edges(edges, src, dst)
    deg = _degrees(und)
    tri = _per_node_triangles(und, deg)
    cached = [und, tri._bds_oriented]  # type: ignore[attr-defined]
    del tri._bds_oriented  # type: ignore[attr-defined]
    scale = float(10 ** coeff_round)
    coeff = F.when(
        F.col("degree") > 1,
        F.floor(
            (2.0 * F.col("n_triangles"))
            / (F.col("degree") * (F.col("degree") - 1))
            * scale
            + 0.5
        )
        / scale,
    ).otherwise(F.lit(0.0))
    out = tri.join(deg, "node").select(
        "node", "degree", "n_triangles", coeff.alias("clustering_coeff")
    )
    out._bds_cached = cached  # type: ignore[attr-defined]
    return out


def label_propagation(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 2,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, the
    deterministic variant) over an undirected edge relation — the
    community-detection pass between connected components (too coarse:
    one LSH false positive merges two real duplicate groups) and
    triangle counting (too local): after ``iters`` rounds each node
    carries the label that its neighborhood converged toward, so one
    spurious bridge edge no longer merges two dense communities.
    Returns ``(node, community)`` for every node of the edge relation.

    Determinism contract (standard LPA is RNG-ordered; this variant is
    reproducible by construction): labels start as node ids, every
    round is SYNCHRONOUS (all nodes update from the previous round's
    labels), the new label is the most frequent neighbor label with
    ties broken to the SMALLEST label. Integer counts only — no FP
    anywhere, so any partitioning yields the identical labeling.

    Scale shape: per round, one equi-join (symmetric edges ⋈ labels on
    the neighbor key) + one (node, label) map-side-combinable count +
    one struct-min argmax per node — no windows, no collect; the
    symmetric edge relation is persisted across rounds (multi-consumer,
    see ``_canonical_edges``) and rides the result for release via
    ``dedup.release_signature_caches``. Labels are checkpointed EVERY
    round (node-sized, one tiny job each): the next round consumes the
    label relation twice, so un-truncated lineage re-evaluates ~2^k
    times by round k (measured 18 s → 62 s from 2 to 4 rounds at 10M
    edges); superseded checkpoint blocks are released."""
    from .lineage import release_plan_blocks

    und = _canonical_edges(edges, src, dst)
    # NOTE (r14): the d92/d28 fixed-edge-layout treatment (repartition
    # sym by "d" once + per-round shuffle-hash) was tried and MEASURED
    # SLOWER here (warm 8.8 -> 18.7 s at sf0.1): the label frame is
    # node-sized, so AQE already BROADCASTS it each round and the edge
    # relation is never shuffled at all — forcing a layout added a full
    # edge exchange for nothing. Kept the broadcast-friendly shape.
    sym = und.select(
        F.col("a").alias("s"), F.col("b").alias("d")
    ).unionAll(und.select(F.col("b").alias("s"), F.col("a").alias("d")))
    labels = und.select(F.col("a").alias("node")).unionAll(
        und.select(F.col("b").alias("node"))
    ).distinct().withColumn("__l", F.col("node"))
    prev_ckpt: DataFrame | None = None
    for it in range(int(iters)):
        nb = sym.join(
            labels.select(F.col("node").alias("d"), "__l"), "d"
        ).select(F.col("s").alias("node"), "__l")
        cnt = nb.groupBy("node", "__l").agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        )
        best = cnt.groupBy("node").agg(
            F.min(
                F.struct((-F.col("__n")).alias("neg"), F.col("__l").alias("lab"))
            ).alias("__m")
        ).select("node", F.col("__m.lab").alias("__new"))
        labels = labels.join(best, "node", "left").select(
            "node", F.coalesce("__new", "__l").alias("__l")
        )
        # materialize EVERY round: `labels` is consumed TWICE by the
        # next round (the neighbor join and the left-join update), so
        # un-truncated lineage re-evaluates ~2^k times by round k —
        # measured 18 s (2 rounds) -> 62 s (4 rounds) at 10M edges
        # before this; the checkpoint is node-sized, one tiny job/round
        if it + 1 < iters:
            labels = labels.localCheckpoint(eager=True)
            if prev_ckpt is not None:
                release_plan_blocks(prev_ckpt)
            prev_ckpt = labels
    out = labels.select("node", F.col("__l").alias("community"))
    out._bds_cached = [und]  # type: ignore[attr-defined]
    return out


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    k: int = 25,
    min_len: int = 3,
    iters: int = 10,
    scale: int = 10**12,
) -> DataFrame:
    """Corpus keyword extraction via co-occurrence PageRank (TextRank,
    Mihalcea & Tarau 2004 — public): tokens are lowercase letter runs
    of length ≥ ``min_len``; every pair of ADJACENT tokens (window 2)
    contributes an undirected edge (both directions, distinct,
    self-loops dropped); node authority is the SAME exact-integer
    PageRank recurrence as D40 (``pagerank_fixed_point`` with
    ``raw_scaled=True`` — no float op anywhere, so ranks are engine-
    and partitioning-independent integers); output the top ``k``
    ``(rank_pos, token, rank_scaled)`` by (rank desc, token asc).

    Scale shape: edge construction is a pure projection + explode
    (arrays_zip of the token array against its own tail — no window,
    no shuffle until the distinct), the graph is vocabulary-sized
    (≪ corpus), each PageRank round is one equi-join + one integer-sum
    agg (D40's shape), and the top-k is a TakeOrdered over the
    vocabulary-sized rank relation. The keyword list of a 100 TB
    corpus costs one corpus scan plus ``iters`` vocabulary-scale
    rounds."""
    toks = F.filter(
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"),
        lambda t: F.length(t) >= min_len,
    )
    pairs = F.arrays_zip(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    ex = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.0").alias("a"), F.col("__p.1").alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    und = ex.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).unionByName(
        ex.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    ranks = pagerank_fixed_point(
        und, iters=iters, scale=scale, raw_scaled=True
    )
    top = ranks.orderBy(
        F.col("rank_scaled").desc(), F.col("node")
    ).limit(k)
    from pyspark.sql import Window as _W

    w = _W.orderBy(F.col("rank_scaled").desc(), F.col("node"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank_pos"),
        F.col("node").alias("token"),
        "rank_scaled",
    )


def kcore_decompose(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 400,
) -> DataFrame:
    """Coreness (k-core number) per node — the standard graph-quality
    cut for dedup/link analysis: a node's core number is the largest k
    such that it survives in the subgraph where every node has degree
    ≥ k (peels leaves and chains off LSH candidate graphs; high-core
    nodes are the dense template/boilerplate clusters worth manual
    review). Computed as the H-INDEX FIXPOINT (Lü, Zhou, Zhang &
    Stanley 2016, Nature Comms — public): ``core₀ = degree``, then
    ``coreₜ₊₁(v) = H({coreₜ(u) : u ~ v})`` until no value changes —
    provably converges to the exact Batagelj-Zaveršnik coreness, and
    unlike sequential peeling it is EMBARRASSINGLY PARALLEL per round.

    Scale shape — ACTIVE-SET rounds over a FIXED edge layout: the
    symmetric edge relation is hash-partitioned by its join key ONCE
    and persisted, so no round ever re-shuffles it (the r14 lesson —
    the previous shape paid two full-edge sort-merge shuffles per
    round, ~2.5 s/round at sf0.1 even for a 36-node frontier). Each
    round attaches current cores on ``s`` and emits the neighbor-core
    row to ``d`` (legal by symmetry), with the cores side shuffle-hash
    joined INTO the edge partitioning — only node-sized state moves.
    Small frontiers (exact ``changed`` count ≤ min(n/8, 5M)) broadcast
    the active set and its counted neighborhood to semi-filter the
    cached edges map-side; big frontiers recompute every node's
    h-index (identical result: h of a node with no changed neighbor
    reproduces its value). The h-fold itself: a (node, neighbor-core)
    HISTOGRAM aggregate (map-side combinable; per-node state bounded
    by DISTINCT neighbor core values, ≤ O(√m), never hub degree — no
    neighbor-list collect), then ``h = max over distinct values c of
    min(c, cumulative count)``. Core values only DECREASE (monotone
    convergence); each round lazily checkpoints the node-sized state
    and the convergence count materializes it (one job, not two), with
    superseded-block release. All integers; deterministic under any
    partitioning.

    Convergence: the h-index cascade length is a GRAPH property — a
    1M-edge power-law graph was measured needing >100 rounds, with the
    frontier collapsing 78,588 → <300 within 30 rounds and the rest a
    long tail of few-node rounds; at toy scale each tail round is one
    job-dispatch floor, on a real cluster it is noise next to the early
    big-frontier rounds. ``max_iters`` is a SAFETY RAIL, not a tuning knob — hitting
    it logs a warning and returns the (monotone upper-bound)
    in-progress cores rather than looping forever on adversarial
    graphs."""
    import logging

    from pyspark import StorageLevel

    und = _canonical_edges(edges, src, dst)
    # ONE-TIME layout: hash-partition the symmetric edge relation by its
    # per-round join key. Every round attaches cores on ``s`` and emits
    # the neighbor-core row to ``d`` (sym is symmetric, so {(s,core(d))}
    # == {(d,core(s))} as multisets) — the partitioning is reused by the
    # cores join each round instead of re-shuffling the edge relation.
    spark = edges.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sym = (
        und.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(und.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .repartition(nshuf, "s")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cores = (
        sym.groupBy(F.col("s").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        .localCheckpoint(eager=True)
    )
    n_nodes = cores.count()
    # Frontier rounds broadcast the active set and its neighborhood —
    # both gated by EXACT counts (changed from last round's convergence
    # count, the neighborhood by its own materialized count), so the
    # broadcast never runs on an unbounded relation. Big-frontier rounds
    # recompute every node's h-index instead (semantically identical:
    # the h of a node with no changed neighbor reproduces its current
    # value), which keeps the edge relation un-shuffled either way.
    bc_max_rows = 5_000_000  # ≈40 MB of long ids — conservative vs 8 GB cap
    active: DataFrame | None = None  # None = recompute all (round 0)
    changed = n_nodes
    prev_ckpt: DataFrame = cores
    for _ in range(int(max_iters)):
        base = sym
        aff_ckpt: DataFrame | None = None
        if active is not None and changed <= min(n_nodes // 8, bc_max_rows):
            # nodes whose h-index can have changed = neighbors of active
            aff = (
                sym.join(
                    F.broadcast(active.select(F.col("node").alias("d"))),
                    "d",
                    "semi",
                )
                .select(F.col("s").alias("node"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            if aff.count() <= bc_max_rows:
                base = sym.join(
                    F.broadcast(aff.select(F.col("node").alias("d"))),
                    "d",
                    "semi",
                )
                aff_ckpt = aff
            else:
                release_plan_blocks(aff)
        nb = base.join(
            cores.select(F.col("node").alias("s"), "__c").hint(
                "shuffle_hash"
            ),
            "s",
        ).select(F.col("d").alias("node"), F.col("__c").alias("__nc"))
        hist = nb.groupBy("node", "__nc").agg(
            F.count(F.lit(1)).cast("long").alias("__k")
        )
        folded = hist.groupBy("node").agg(
            F.aggregate(
                F.reverse(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("__nc").alias("c"),
                                F.col("__k").alias("k"),
                            )
                        )
                    )
                ),
                F.struct(
                    F.lit(0).cast("long").alias("cum"),
                    F.lit(0).cast("long").alias("h"),
                ),
                lambda acc, e: F.struct(
                    (acc["cum"] + e["k"]).alias("cum"),
                    F.greatest(
                        acc["h"], F.least(e["c"], acc["cum"] + e["k"])
                    ).alias("h"),
                ),
            )["h"].alias("__h")
        )
        nxt = cores.join(folded.hint("shuffle_hash"), "node", "left").select(
            "node",
            F.coalesce("__h", "__c").alias("__c"),
            F.col("__c").alias("__old"),
        )
        # lazy checkpoint: the convergence count below materializes it,
        # fusing checkpoint + count into one job per round
        ck = nxt.localCheckpoint(eager=False)
        changed_nodes = ck.filter(F.col("__c") != F.col("__old"))
        changed = changed_nodes.count()
        cores = ck.select("node", "__c")
        active = changed_nodes.select("node")
        release_plan_blocks(prev_ckpt)
        prev_ckpt = ck
        if aff_ckpt is not None:
            release_plan_blocks(aff_ckpt)
        if changed == 0:
            break
    else:
        logging.getLogger(__name__).warning(
            "kcore_decompose hit max_iters=%d with %d nodes still "
            "changing — returned cores are a monotone UPPER BOUND, "
            "not the exact coreness",
            int(max_iters),
            changed,
        )
    out = cores.select("node", F.col("__c").cast("long").alias("core"))
    out._bds_cached = [und, sym]  # type: ignore[attr-defined]
    return out
